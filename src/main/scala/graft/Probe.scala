package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev tool: isolate ONE query and break its wall time into jobs and
  * stages (no UI in the sandbox, so this is the empirical loop of
  * guide §1.1 in CLI form).
  *
  *   runMain graft.Probe <sfDir> <key> [iters]
  *
  * Runs on the Families harness, so the query sees the session Bench
  * times it on. Warm pass first (codegen + fixtures, untimed), then
  * `iters` timed noop-sink runs; after the timed runs it prints per-job
  * wall and a top-stages table (duration, task count, shuffle
  * read/write bytes) accumulated across the timed runs only.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val key = args(1)
    val iters = if (args.length > 2) args(2).toInt else 3

    val run = Families.run("probe", sfDir, Some(Set(key)))(c => c.queries.foreach {
      case (_, fn) => c.attempt(key) {
        val spark = c.spark
        // Warm pass: fixtures, codegen, table reads.
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()

        final case class StageAgg(var wall: Long = 0L, var tasks: Int = 0,
          var shufRead: Long = 0L, var shufWrite: Long = 0L, var input: Long = 0L,
          var name: String = "")
        val stages = mutable.Map.empty[Int, StageAgg]
        val jobs = mutable.ArrayBuffer.empty[(Int, Long)] // (jobId, wallMs)
        val jobStart = mutable.Map.empty[Int, Long]
        var listening = false
        val listener = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit =
            if (listening) jobStart(e.jobId) = e.time
          override def onJobEnd(e: SparkListenerJobEnd): Unit =
            if (listening) jobStart.remove(e.jobId).foreach(t0 =>
              jobs += ((e.jobId, e.time - t0)))
          override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
            if (listening) {
              val si = e.stageInfo
              val a = stages.getOrElseUpdate(si.stageId, StageAgg())
              a.wall += si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
              a.tasks += si.numTasks
              a.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
              a.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
              a.input += si.taskMetrics.inputMetrics.bytesRead
              a.name = si.name.take(80)
            }
        }
        spark.sparkContext.addSparkListener(listener)

        val walls = (1 to iters).map { _ =>
          spark.catalog.clearCache()
          listening = true
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val w = (System.nanoTime() - t0) / 1e9
          listening = false
          w
        }
        spark.sparkContext.removeSparkListener(listener)

        println(f"[probe] $key walls=${walls.map(w => f"$w%.2f").mkString(",")} " +
          f"median=${walls.sorted.apply(walls.size / 2)}%.2f over $iters iters")
        println(f"[probe] jobs=${jobs.size} (${jobs.size / iters} per run) " +
          f"jobWallSum=${jobs.map(_._2).sum / 1e3}%.2f s")
        val top = stages.toSeq.sortBy(-_._2.wall).take(25)
        println("[probe] top stages (summed over timed runs):")
        top.foreach { case (id, a) =>
          println(f"  stage $id%5d wall=${a.wall / 1e3}%7.2fs tasks=${a.tasks}%5d " +
            f"in=${a.input / 1e6}%8.1fMB sr=${a.shufRead / 1e6}%8.1fMB " +
            f"sw=${a.shufWrite / 1e6}%8.1fMB  ${a.name}")
        }
      }
    })
    if (run.failed.nonEmpty) sys.exit(1)
  }
}

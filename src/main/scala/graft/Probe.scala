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
        // Listener events arrive on the listener bus after the action
        // that caused them returns, so each timed run tags its jobs
        // with a job group and the tally counts by tag, not by when an
        // event happens to be delivered. State below is guarded by
        // `listener`'s monitor (the bus thread writes it).
        val prefix = s"graft-probe-$key-"
        val sentinel = s"graft-probe-drain-$key"
        val stages = mutable.Map.empty[Int, StageAgg]
        val tagged = mutable.Set.empty[Int] // stage ids of timed jobs
        val jobs = mutable.ArrayBuffer.empty[(Int, Long)] // (jobId, wallMs)
        val pending = mutable.Map.empty[Int, Long] // jobId -> start time
        var sentinelJob = -1
        var sentinelDone = false
        val listener = new SparkListener {
          override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
            val group = Option(e.properties).fold("")(_.getProperty("spark.jobGroup.id", ""))
            if (group == sentinel) sentinelJob = e.jobId
            else if (group.startsWith(prefix)) { pending(e.jobId) = e.time; tagged ++= e.stageIds }
          }
          override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
            if (e.jobId == sentinelJob) sentinelDone = true
            pending.remove(e.jobId).foreach(t0 => jobs += ((e.jobId, e.time - t0)))
          }
          override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
            val si = e.stageInfo
            if (tagged(si.stageId)) {
              val a = stages.getOrElseUpdate(si.stageId, StageAgg())
              a.wall += si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)
              a.tasks += si.numTasks
              a.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
              a.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
              a.input += si.taskMetrics.inputMetrics.bytesRead
              a.name = si.name.take(80)
            }
          }
        }
        val sc = spark.sparkContext
        sc.addSparkListener(listener)

        val walls = (1 to iters).map { i =>
          spark.catalog.clearCache()
          sc.setJobGroup(s"$prefix$i", s"probe $key run $i")
          val t0 = System.nanoTime()
          try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          finally sc.clearJobGroup()
          (System.nanoTime() - t0) / 1e9
        }
        // The bus delivers events in order, so once a job submitted
        // after the timed runs has ended on the bus, every timed job's
        // start has been delivered; then wait for their ends.
        sc.setJobGroup(sentinel, "probe drain")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 60L * 1000000000L
        def drained = listener.synchronized(sentinelDone && pending.isEmpty)
        while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
        sc.removeSparkListener(listener)
        require(drained, s"probe: timed jobs still undelivered after 60 s: " +
          listener.synchronized(pending.keys.toSeq.sorted))

        println(f"[probe] $key walls=${walls.map(w => f"$w%.2f").mkString(",")} " +
          f"median=${walls.sorted.apply(walls.size / 2)}%.2f over $iters iters")
        println(f"[probe] jobs=${jobs.size} (${jobs.size.toDouble / iters}%.2f per run) " +
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

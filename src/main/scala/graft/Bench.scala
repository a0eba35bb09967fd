package graft

/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line {"metric":"total","value":…,"queries":…}.
  *
  *   runMain graft.Bench [k1,k2,…]
  *
  * The optional argument keeps only the named keys (a dev focus
  * filter); the full artifact goes to SPARK_GRAFT_BENCH_OUT
  * (BENCH_FULL.json).
  *
  * Each query is forced through the noop sink — a count() would let
  * Catalyst prune the projections of map-only queries (text_*, mm_*)
  * and time an empty scan instead of the operator. Queries run on the
  * Families harness, one fresh session per chunk, so per-query numbers
  * measure the query in near-isolation instead of their neighbors'
  * garbage (the round-9 fix: cdc_compact read 7.50 s in one shared
  * session vs 0.87 s isolated).
  *
  * Steady-state timing: every query of a chunk runs once untimed first
  * (codegen compilation of the wide-aggregate queries costs seconds on
  * first execution — a per-process constant that a long-running
  * deployment amortizes to zero), then `Iters` timed iterations per
  * query, reporting the per-query MEDIAN — a single execution swings
  * with GC/scheduling luck, and a gate on one sample gates on that
  * luck. The cache is cleared before every timed iteration so queries
  * that persist per-call intermediates pay their materialization
  * honestly each time. The chunk-scoped fixtures (Trike's framed-message
  * stream, Dedup's tokenized shingle rows and MinHash signature/
  * pair-graph tables) survive clearCache by design: they model tables a
  * production pipeline materializes once per corpus snapshot, so
  * steady-state timings price reading them; their builds are reported
  * as line items of their own (`fixtures`).
  */
object Bench {

  /** Timed iterations per query. */
  private val Iters = 3

  /** The stdout line must stay SHORT: the driver keeps only the last
    * ~2000 chars of stdout and parses the JSON line out of that tail —
    * a 260-query map is ~8 KB, so every round through r12 came back
    * `parsed: null`. The headline line carries the total plus this
    * fixed cross-family subset; the COMPLETE per-query artifact
    * (median, spread, cpu, load for every key) goes to
    * BENCH_FULL.json. */
  private val headline = Seq(
    "q1_agg", "q3_join_agg", "q6_anti_join", "q7_window_rank",
    "ev_sessionize", "ev_funnel", "dedup_exact", "dedup_minhash_lsh",
    "ann_bruteforce", "ann_ivf", "text_tokens", "text_tfidf",
    "mm_dedup", "graph_components", "cdc_merge", "sketch_hll")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = args.headOption.map(_.split(",").toSet)
    val artifactPath = java.nio.file.Paths.get(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json"))

    // CONTENTION TELEMETRY (the round-12 fix): round-11's bench showed
    // 41 band-disjoint "regressions" up to 12× that turned out to be an
    // oversubscribed machine. Every timed iteration also records the
    // JVM's process-CPU delta: a query whose WALL time regresses while
    // its CPU time holds steady did the same work but waited for the
    // box; one whose CPU regresses with it runs a worse plan. Each
    // query also samples the 1-minute loadavg at its start;
    // tools/benchdiff.py uses both to refuse wall-only regressions.
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val results = scala.collection.mutable.Map.empty[String, Sample]

    // Heap size is a measured perf variable on this workload (build.sbt
    // caps -Xmx at 16g for exactly that reason), and the git SHA names
    // the code a number came from: both are stamped into the artifact.
    val heapMb = Runtime.getRuntime.maxMemory / (1024L * 1024L)
    val gitSha = scala.util.Try(
      scala.sys.process.Process(Seq("git", "rev-parse", "--short", "HEAD"))
        .!!.trim).getOrElse("unknown")

    def obj[V](m: Iterable[(String, V)])(f: V => String): String =
      m.map { case (k, v) => "\"" + k + "\":" + f(v) }.mkString("{", ",", "}")
    def band(xs: Seq[Double]): String = "[" + xs.min + "," + xs.max + "]"
    def total: Double = results.toSeq.sortBy(_._1).map(s => median(s._2.wall)).sum

    // The COMPLETE artifact (every key: median + [min,max] spread band,
    // cpu, load, steal — the run-to-run spread is what makes a single
    // round's median actionable at all, see SURVEY §7). Written after
    // EVERY chunk with "partial":true (round-16 lesson: an sf10 executor
    // OOM stopped the context and the end-of-run-only write lost an hour
    // of finished measurements), then finally without the flag.
    def fullLine(r: Families.Run, partial: Boolean): String = {
      val sorted = results.toSeq.sortBy(_._1)
      val fixtures = r.fixtures.groupBy(_._1).toSeq.sortBy(_._1)
      val pflag = if (partial) "\"partial\":true," else ""
      s"""{"metric":"total",$pflag"value":$total,"unit":"sec",""" +
        s""""queries":${obj(sorted)(s => median(s.wall).toString)},""" +
        s""""spread":${obj(sorted)(s => band(s.wall))},""" +
        s""""cpu":${obj(sorted)(s => median(s.cpu).toString)},""" +
        s""""cpu_spread":${obj(sorted)(s => band(s.cpu))},""" +
        s""""load":${obj(sorted)(_.load.toString)},""" +
        s""""steal":${obj(sorted)(_.steal.fold("null")(_.toString))},""" +
        s""""failed":${r.failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""fixtures":${obj(fixtures)(_.map(_._2).mkString("[", ",", "]"))},""" +
        s""""fixture_sec":${r.fixtures.map(_._2).sum},"mode":"warm",""" +
        s""""iters":$Iters,"cpus":${r.cpus},"initial_parts":${r.initialParts},""" +
        s""""heap_mb":$heapMb,"git":"$gitSha","sf":"$sfDir"}"""
    }

    def writeArtifact(line: String): Unit =
      try java.nio.file.Files.writeString(artifactPath, line)
      catch { case e: Throwable =>
        System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
      }

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val run = Families.run("bench", sfDir, only)({ c =>
      val spark = c.spark
      // Untimed warm pass: table reads, codegen, chunk fixtures. A
      // fixture built here is priced in `fixtures`, not in the medians.
      noop(Tables(spark, sfDir).region)
      c.queries.foreach { case (_, fn) =>
        try noop(fn(spark, sfDir))
        catch { case _: Throwable => () } // failures re-surface in the timed pass
      }
      c.queries.foreach { case (name, fn) =>
        // A failed iteration's elapsed time is time-to-failure, not a
        // query timing: the query is failed and reports no samples.
        val wall, cpu = scala.collection.mutable.ArrayBuffer.empty[Double]
        val load = osBean.getSystemLoadAverage
        val steal0 = stealTicks()
        val ok = c.attempt(name) {
          (1 to Iters).foreach { _ =>
            spark.catalog.clearCache()
            val c0 = osBean.getProcessCpuTime
            val t0 = System.nanoTime()
            noop(fn(spark, sfDir))
            wall += (System.nanoTime() - t0) / 1e9
            cpu += (osBean.getProcessCpuTime - c0) / 1e9
          }
        }
        // > ~0.5 s of steal on a sub-second query marks its window
        // contaminated.
        if (ok) results(name) = Sample(wall.toSeq, cpu.toSeq, load,
          for (a <- steal0; b <- stealTicks()) yield (b - a) / 100.0)
      }
    }, r => writeArtifact(fullLine(r, partial = true)))

    writeArtifact(fullLine(run, partial = false))
    val failed = run.failed.toSeq
    val hq = obj(headline.flatMap(k => results.get(k).map(k -> _)))(s =>
      median(s.wall).toString)
    val fshort = (failed.take(5).map("\"" + _ + "\"") ++
      (if (failed.size > 5) Seq("\"+" + (failed.size - 5) + " more\"") else Nil))
      .mkString("[", ",", "]")
    val headlineLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$hq,"sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size},"failed":$fshort,"mode":"warm","iters":$Iters,"fixture_sec":${run.fixtures.map(_._2).sum},"heap_mb":$heapMb,"git":"$gitSha","full":"BENCH_FULL.json"}"""

    // SELF-CHECK (a headline that parsed as `null` once went
    // unnoticed for two runs). Recreate
    // the driver's parse exactly — take the LAST 2000 chars of what we
    // print, find the JSON line, parse it with Jackson (on Spark's
    // classpath) — and fail LOUDLY here if that would fail there. Also
    // re-read the BENCH_FULL artifact from disk and parse it.
    def mustParse(what: String, s: String): Unit = {
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(s)
      require(node != null && node.has("metric") && node.has("value"),
        s"$what: parsed JSON lacks metric/value")
    }
    try {
      require(headlineLine.length <= 1900,
        s"headline line is ${headlineLine.length} chars — the driver keeps " +
          "only ~2000 and would truncate it to unparseable")
      mustParse("headline", headlineLine.takeRight(2000))
      mustParse("BENCH_FULL", java.nio.file.Files.readString(artifactPath))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] SELF-CHECK FAILED: ${e.getMessage}")
      println(headlineLine) // still emit what we have, then fail the run
      sys.exit(2)
    }
    println(headlineLine)
    if (failed.nonEmpty) sys.exit(1)
  }

  /** One query's timed iterations. `steal` is the host's stolen CPU
    * seconds across them, None when /proc/stat could not be read. */
  private final case class Sample(wall: Seq[Double], cpu: Seq[Double],
      load: Double, steal: Option[Double])

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  // HOST-STEAL TELEMETRY (round-18, the r17 verdict's item 3): the
  // sandbox host has CPU-steal waves (round-17 measured identical jobs
  // swinging ×2–10 between adjacent runs), and the wall/cpu medians
  // alone cannot prove which windows were contaminated. The cpu line
  // of /proc/stat carries cumulative steal as its 8th value, in USER_HZ
  // ticks; USER_HZ is 100 on every Linux ABI this runs on, so a tick
  // is 10 ms.
  private def stealTicks(): Option[Long] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toLong
    finally src.close()
  }.toOption
}

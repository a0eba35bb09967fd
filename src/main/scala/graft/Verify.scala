package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit, TimeoutException}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  *   runMain graft.Verify <sfDir> <outDir> [k1,k2,…]
  *
  * HARDENED FOR A 260+ QUERY REGISTRY (a run that died mid-way once
  * came back `{}`, and all of its correctness evidence vanished):
  *
  *  1. oracle_sql.json is written FIRST, before any query runs. If the
  *     run is killed at minute N, every parquet dumped before the kill
  *     still gets compared — a partial gate instead of an empty one.
  *  2. Queries run on the Families harness, one fresh session per chunk
  *     (the same plan Bench times).
  *  3. Within a chunk, queries run on a small thread pool. Plan
  *     building under the family fixture locks serializes safely
  *     (the getters are synchronized); execution overlaps, so the
  *     local cores aren't idled by one sub-second query at a time.
  *  4. Per-query wall time goes to stderr, so a killed run shows WHERE
  *     the budget went.
  */
object Verify {

  /** Parquet writes in flight per chunk. */
  private val Writers = 4

  /** Per-chunk ceiling: a wedged query must not take the remaining
    * chunks down with it. */
  private val ChunkTimeoutMin = 20L

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional 3rd arg: a key filter; without it the dump covers every
    // query.
    val only = args.lift(2).map(_.split(",").toSet)
    Files.createDirectories(Paths.get(outDir))

    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Filter the oracle dump too: crosscheck --no-run over a filtered
    // dump would otherwise fail (or compare stale parquet) for every
    // query that was skipped.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)

    val t00 = System.nanoTime()
    val run = Families.run("verify", sfDir, only)({ c =>
      val pool = Executors.newFixedThreadPool(math.min(Writers, c.queries.size))
      c.queries.foreach { case (name, fn) =>
        pool.execute { () =>
          val t0 = System.nanoTime()
          if (c.attempt(name)(fn(c.spark, sfDir).coalesce(1).write
              .mode("overwrite").parquet(s"$outDir/$name")))
            System.err.println(
              f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
        }
      }
      pool.shutdown()
      if (!pool.awaitTermination(ChunkTimeoutMin, TimeUnit.MINUTES)) {
        pool.shutdownNow()
        throw new TimeoutException(s"chunk ran past $ChunkTimeoutMin min")
      }
    })
    val failed = run.failed.toSeq.sorted
    val all = SparkEntry.queries.keys.count(k => only.forall(_.contains(k)))
    // Machine-readable failure marker: present (and non-empty) IFF any
    // query failed or timed out. Written last so its absence on a
    // killed run means "unknown", not "clean". Exit stays 0 BY DESIGN —
    // the partial dump is the gate's value, so a flaky query must not
    // zero the round. Re-create outDir first: if EVERY query failed
    // before its parquet write (e.g. a bad sfDir), the summary write
    // itself would otherwise throw, losing the failure evidence.
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(s"$outDir/failed_queries.json"),
      failed.map(q).mkString("[", ",", "]"))
    if (failed.nonEmpty)
      System.err.println(s"[verify] FAILED ${failed.size} queries: " +
        failed.mkString(", "))
    System.err.println(
      f"[verify] all chunks done in ${(System.nanoTime() - t00) / 1e9}%.0fs " +
        s"(${all - failed.size}/$all ok)")
  }
}

package graft

import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for named queries to files.
  *
  *   runMain graft.Explain <sfDir> <outDir> <suffix> <k1,k2,…|all>
  *
  * Writes <outDir>/<key>_<suffix>.txt per key, planned on the Families
  * harness — the session Bench times and Verify checks. A before/after
  * pair of these dumps makes plan claims (Exchange counts, join
  * strategies, PushedFilters) auditable without running Spark. Note:
  * queries that materialize eagerly while BUILDING their frame (the
  * iterative graph ops, which return a localCheckpoint) show the
  * checkpoint scan here; their interesting plan is the per-round step,
  * documented separately where a claim depends on it.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, suffix) = (args(0), args(1), args(2))
    val only = args.lift(3).filter(_ != "all").map(_.split(",").toSet)
    Files.createDirectories(Paths.get(outDir))
    Families.run("explain", sfDir, only)(c => c.queries.foreach { case (k, fn) =>
      c.attempt(k) {
        val txt = fn(c.spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${k}_$suffix.txt"), txt)
        System.err.println(s"[explain] $k -> $outDir/${k}_$suffix.txt")
      }
    })
  }
}

package graft.tools

import java.nio.file.{Files, Paths}
import graft.{Sessions, SparkEntry, Tables}

/** Dev-only plan dumper: write `.explain("formatted")` output for a
  * comma-separated subset of SparkEntry.queries (or `all`) to
  * `<outDir>/<query>_<suffix>.txt` — the before/after plan evidence
  * the optimization rounds commit under plans/rNN/. Static plans
  * (AQE isFinalPlan=false): the committed artifact must be
  * reproducible without running the query, and Exchange counts /
  * join strategies / PushedFilters are all visible statically.
  * Not driver contract.
  *
  * Usage: runMain graft.tools.ExplainQ <sfDir> <names|all> <outDir> <suffix>
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(2))
    val suffix = args(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus)
    Files.createDirectories(outDir)
    val names =
      if (args(1) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(1).split(",").toSeq
    // Warm the tables so plan construction (some operators size-probe
    // their inputs at build time) sees the same state Bench does.
    Tables.names.foreach(n =>
      try Tables.load(spark, sfDir, n).count()
      catch { case _: Throwable => () })
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(outDir.resolve(s"${n}_$suffix.txt"), txt)
        println(s"EXPLAINQ wrote ${n}_$suffix.txt (${txt.length} chars)")
      } catch { case e: Throwable =>
        println(s"EXPLAINQ ERROR $n: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}

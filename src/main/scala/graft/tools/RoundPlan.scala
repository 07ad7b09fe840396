package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.{Sessions, Tables}
import graft.operators.Similarity

/** Dev-only plan dumper for the ITERATIVE chain rounds (r21): the
  * s-chain rounds materialize eagerly, so a declared query's static
  * plan shows only the post-chain tail reading LogicalRDDs — the
  * per-round exchange count the r21 fusion targets is invisible in
  * `plans/rNN/<query>_*.txt`. This tool builds ONE un-pinned
  * beam-walk round and ONE un-pinned NN-descent round through the
  * exact same builders the loops call ([[Similarity.beamRoundFrame]],
  * [[Similarity.nnDescentRoundFrame]]) and writes their
  * `.explain("formatted")` output, so the committed round-plan
  * evidence is reproducible from code. Not driver contract.
  *
  * Usage: runMain graft.tools.RoundPlan <sfDir> <outDir> <suffix>
  */
object RoundPlan {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus)
    Files.createDirectories(outDir)
    val emb = Tables.load(spark, sfDir, "embeddings")
    for ((name, df) <- Similarity.debugRoundFrames(emb)) {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), txt)
      println(s"ROUNDPLAN wrote ${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}

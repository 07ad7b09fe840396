package graft.tools

import graft.{Sessions, SparkEntry, Tables}

/** Dev-only result viewer: run a comma-separated subset of
  * SparkEntry.queries at a given SF dir and `show()` each result —
  * the inspection lens TimeQ's noop sink deliberately lacks (e.g.
  * reading a recall gate's numbers while tuning an ANN dial).
  */
object ShowQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus)
    Tables.names.foreach(n => try Tables.load(spark, sfDir, n).count() catch { case _: Throwable => () })
    names.foreach { n =>
      println(s"== $n")
      SparkEntry.queries(n)(spark, sfDir).show(100, truncate = false)
    }
    spark.stop()
  }
}

package graft.tools

import graft.{Sessions, SparkEntry, Tables}
/** Dev-only targeted timer: wall-clock a comma-separated subset of
  * SparkEntry.queries at a given SF dir (noop sink, warm session) —
  * the per-query lens Bench's full sweep is too slow for when
  * iterating on one operator's plan.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus)
    Tables.names.foreach(n => try Tables.load(spark, sfDir, n).count() catch { case _: Throwable => () })
    names.foreach { n =>
      val t0 = System.nanoTime()
      SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"TIMEQ $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}

package graft.tools

import graft.Sessions

/** Print one query's FINAL adaptive plan — collect() drives the
  * query's own QueryExecution so AQE finalizes in place (a noop write
  * builds a separate QueryExecution and leaves this one un-executed,
  * hiding runtime stage reuse). The Probe `plans` sweep greps the
  * static plan; this shows what actually ran (ReusedExchange,
  * AQEShuffleRead coalescing, skew splits). Not driver contract.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(8)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val df = graft.SparkEntry.queries(args(0))(spark, sf)
    df.collect() // drive THIS QueryExecution so AQE finalizes in place
    println("=== AQE final plan ===")
    println(df.queryExecution.executedPlan.toString.take(12000))
    spark.stop()
  }
}

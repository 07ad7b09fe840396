package graft.tools

import graft.Sessions

/** Dev-only: materialize the DR-2 sf1eq amplification tier to a given
  * directory so the DuckDB oracle can be run against it out-of-JVM —
  * the r13 verdict's item 6: the exact-integer disciplines
  * (decimal(38,0)/HUGEINT sums, fixed-point divisions) are what break
  * SILENTLY as magnitudes grow another decade, so the overflow-exposed
  * queries get a supplementary tools/check.py pass at 10× sf0.1.
  * Boundary unchanged from DR-2: sf1eq is never an input to the
  * driver's correctness gates; results land in BASELINE.md §4 only.
  */
object BuildTier {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft-sf1eq")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus)
    ScaleBench.writeAmplified(spark, "/root/testdata/sf0.1", outDir)
    spark.stop()
    println(s"sf1eq tier written to $outDir")
  }
}

package graft.tools

import graft.{Sessions, Tables}
import graft.operators.Dedup

/** Ad-hoc plan/timing probe (not part of the driver contract). */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(32)
    val docs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    docs.count()

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROBE $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Long = {
      df.write.format("noop").mode("overwrite").save(); 0L
    }
    // Usage:
    //   runMain graft.tools.Probe plans   — red-flag sweep of all plans
    //   runMain graft.tools.Probe <name>  — time one query 3× (noop)
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    args.headOption match {
      case Some("plans") | None =>
        graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach {
          case (name, fn) =>
            try {
              val qe = fn(spark, sf01).queryExecution
              // flag classes live in PlanCheck (single source of
              // truth — the same classifiers the versioned
              // PLANCHECK.json drift gate runs; rationale for each
              // class documented there, incl. the stacked-Generate
              // pushdown pathology SURVEY §8.5 #2 / the d13 23.8s
              // regression, and the range-redraw structural gate).
              val flags = PlanCheck.flagsOf(qe.executedPlan.toString) ++
                PlanCheck.rangeRedrawFlags(qe.optimizedPlan)
              println(s"PLAN $name: " +
                (if (flags.isEmpty) "clean" else flags.mkString(",")))
            } catch { case e: Throwable =>
              println(s"PLAN $name: ERROR ${e.getMessage.take(80)}")
            }
        }
      case Some(name) =>
        val fn = graft.SparkEntry.queries(name)
        (1 to 3).foreach(i => time(s"${name}_$i")(noop(fn(spark, sf01))))
    }
    spark.stop()
  }
}

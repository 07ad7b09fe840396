package perfbench

import graft.SparkEntry

/** The benchmark's own test of its attribution rule: jobs belong to the
  * query whose sequential time window they start in. For two `Par`
  * queries it checks that
  *   - every job the calling thread's job group sees is in the window,
  *     and the windows also hold the `Par` branch jobs the group misses;
  *   - the per-query job counts add up to the listener's total for the
  *     pass;
  *   - p26's window has non-zero pins and jobs.
  */
object SelfTest {
  val queries = Seq("p26_exact_vs_lsh_funnel", "s36_incremental_graph")

  def run(ctx: Ctx): Result = {
    val (spark, _) = QueryBench.setUp(ctx, 1)
    queries.foreach(q => SparkEntry.queries(q)(spark, ctx.data)
      .write.format("noop").mode("overwrite").save())
    val probe = new Probe
    probe.attach(spark)
    val sc = spark.sparkContext
    val p0 = Util.nowMs
    val windows = queries.map { q =>
      sc.setJobGroup(s"perfbench-q-$q", q)
      val t0 = Util.nowMs
      try SparkEntry.queries(q)(spark, ctx.data).write.format("noop").mode("overwrite").save()
      finally sc.clearJobGroup()
      q -> (t0, Util.nowMs)
    }
    val p1 = Util.nowMs
    spark.stop() // drains the listener bus

    val checks = Seq.newBuilder[(String, Boolean)]
    val info = windows.map { case (q, (t0, t1)) =>
      val inWindow = probe.jobsIn(t0, t1).map(_.id).toSet
      val inGroup = probe.jobs.filter(_.group.contains(s"perfbench-q-$q")).map(_.id).toSet
      val m = probe.window(t0, t1, ctx.cpus)
      checks += s"$q: group jobs lie in the window" -> inGroup.subsetOf(inWindow)
      checks += s"$q: window metric equals listener jobs" -> (m("operators.jobs") == inWindow.size)
      q -> Map("window_jobs" -> inWindow.size.toDouble, "group_jobs" -> inGroup.size.toDouble,
        "pins" -> m("Materialize.pins"))
    }.toMap
    val total = probe.jobsIn(p0, p1).size
    val perQuery = windows.map { case (_, (t0, t1)) => probe.jobsIn(t0, t1).size }.sum
    checks += "per-query jobs add up to the pass total" -> (perQuery == total)
    checks += "the windows hold Par branch jobs the job group misses" ->
      info.values.exists(m => m("window_jobs") > m("group_jobs"))
    val p26 = info("p26_exact_vs_lsh_funnel")
    checks += "p26 has pins and jobs" -> (p26("pins") > 0 && p26("window_jobs") > 0)
    val cs = checks.result()
    cs.foreach { case (n, ok) => System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $n") }
    Result(cs.size, cs.count(!_._2), Map.empty,
      Map("queries" -> info, "pass_jobs" -> total, "checks" -> cs.toMap))
  }
}

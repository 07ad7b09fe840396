package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, struct, sum, to_json, xxhash64}

import graft.{SparkEntry, Tables}

/** The query workloads: a fixed list of `SparkEntry.queries`, each built
  * through its public entry point and fully evaluated through the `noop`
  * sink, in a seed-permuted order per timed pass (closed loop, one
  * client). Layer metrics come from a [[Probe]] cut by each query's
  * build and execute windows.
  */
object QueryBench {
  val lists: Map[String, Seq[String]] = Map(
    // driver-paced iterative rounds: many small jobs and pins per round
    "fixpoint" -> Seq("d11_dup_clusters_fast", "p26_exact_vs_lsh_funnel"),
    // 0.1-1 s queries where fixed per-query cost dominates
    "short" -> Seq("h01_payment_v1_edges", "h05_gateway_inventory",
      "j01_jsonl_docs", "q01_agg", "q14_json_props", "a01_asof_join",
      "sk02_salted_join", "st07_stream_static"))

  /** Queries whose own wall time and job count are per-layer metrics. */
  val perQuery: Seq[String] = lists("fixpoint")

  /** The query-builder layer metrics, zero on the follower workload. */
  val idleLayers: Map[String, Double] =
    (Seq("SparkEntry.build_s", "SparkEntry.build_jobs") ++
      perQuery.flatMap(q => Seq(s"query.${q}_s", s"query.$q.jobs"))).map(_ -> 0.0).toMap

  /** Row count and an order-independent content digest: the sum, as an
    * exact decimal, of a 64-bit hash of each row's JSON rendering.
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val r = df.select(xxhash64(to_json(struct(cols: _*))).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)")))
      .first()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def loadExpected(path: Path): Map[String, (Long, String)] = {
    val root = new ObjectMapper().readTree(path.toFile).get("queries")
    val it = root.fieldNames()
    val b = Map.newBuilder[String, (Long, String)]
    while (it.hasNext) {
      val q = it.next()
      b += q -> (root.get(q).get("rows").asLong(), root.get(q).get("digest").asText())
    }
    b.result()
  }

  private final case class Exec(q: String, traced: Boolean,
                                t0: Double, tb: Double, t1: Double,
                                ok: Boolean, codegen: (Long, Double)) {
    def wallS: Double = (t1 - t0) / 1000.0
  }

  private final case class Pass(idx: Int, traced: Boolean, startMs: Double,
                                endMs: Double, execs: Seq[Exec]) {
    def complete: Boolean = execs.forall(_.ok)
    def sumS: Double = execs.map(_.wallS).sum
  }

  /** Set up `times` times (session start + parquet footer warm-up) and
    * keep the last session; returns it with the median set-up seconds.
    */
  private[perfbench] def setUp(ctx: Ctx, times: Int): (SparkSession, Double) = {
    var spark: SparkSession = null
    val samples = (1 to times).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = ctx.session()
      Tables.names.foreach(n => Tables.load(spark, ctx.data, n).count())
      (System.nanoTime() - t0) / 1e9
    }
    (spark, Util.median(samples))
  }

  /** Block until every listener event up to now has reached `probe`,
    * then detach it: a marker SQL action's job end and plan record
    * arrive after everything posted before them.
    */
  private def drainAndDetach(spark: SparkSession, probe: Probe): Unit = {
    val sc = spark.sparkContext
    val t0 = Util.nowMs
    sc.setJobGroup("perfbench-marker", "listener drain marker")
    try spark.range(1).count() finally sc.clearJobGroup()
    val limit = System.nanoTime() + 30000000000L
    def seen: Boolean = probe.synchronized {
      probe.jobs.exists(j => j.group.contains("perfbench-marker") && j.endMs >= 0 &&
        j.startMs >= t0 - 1) && probe.plans.exists(_.startMs >= t0 - 1)
    }
    while (!seen && System.nanoTime() < limit) Thread.sleep(5)
    probe.detach(spark)
  }

  def run(ctx: Ctx): Result = {
    val names = lists(ctx.workload)
    val expected = loadExpected(Path.of(sys.props("perfbench.expected")))
    val bad = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L

    val (spark, sessionS) = setUp(ctx, 3)
    // untimed warm-up pass, charged to set-up: each query runs once through
    // the noop sink, as in the timed passes, and its output is then checked
    // against the stored row count and digest
    val w0 = System.nanoTime()
    names.foreach { q =>
      attempted += 1
      val err =
        try {
          val df = SparkEntry.queries(q)(spark, ctx.data)
          df.write.format("noop").mode("overwrite").save()
          val got = digest(df)
          expected.get(q) match {
            case Some(want) if want == got => None
            case Some(want) => Some(s"rows/digest $got, expected $want")
            case None => Some("no expected output stored")
          }
        } catch { case e: Throwable => Some(e.toString) }
      err.foreach { e => failed += 1; bad(q) = e }
    }
    val warmS = (System.nanoTime() - w0) / 1e9

    val probe = new Probe
    val passes = mutable.ArrayBuffer.empty[Pass]
    val deadline = Util.nowMs + ctx.seconds * 1000.0
    // at least three passes, so the median pass is never the first one
    // after the warm-up, the one that runs while the JIT still compiles
    val minPasses = 3
    while (passes.size < minPasses || Util.nowMs < deadline) {
      val idx = passes.size
      val traced = ctx.trace && idx % 2 == 1
      if (traced) probe.attach(spark)
      val order = new Random(ctx.seed * 1000003L + idx).shuffle(names)
      System.gc()
      val ps = Util.nowMs
      val execs = order.map { q =>
        val cg0 = if (traced) probe.codegen() else (0L, 0.0)
        val t0 = Util.nowMs
        var tb = t0
        val ok =
          try {
            val df = SparkEntry.queries(q)(spark, ctx.data)
            tb = Util.nowMs
            df.write.format("noop").mode("overwrite").save()
            true
          } catch { case e: Throwable => bad(s"$q@pass$idx") = e.toString; false }
        val t1 = Util.nowMs
        if (!ok) tb = t1
        val cg1 = if (traced) probe.codegen() else (0L, 0.0)
        attempted += 1
        if (!ok) failed += 1
        Exec(q, traced, t0, tb, t1, ok, (cg1._1 - cg0._1, cg1._2 - cg0._2))
      }
      passes += Pass(idx, traced, ps, Util.nowMs, execs)
      if (traced) drainAndDetach(spark, probe)
    }
    spark.stop()

    val untraced = passes.filterNot(_.traced)
    val okExecs = untraced.flatMap(_.execs).filter(_.ok).map(_.wallS).toSeq
    val complete = untraced.filter(_.complete).map(_.sumS).toSeq
    // a pass with a failed query is never scored as a (fast) pass time
    val batchS = if (complete.nonEmpty) Util.median(complete) else Double.NaN
    val perQueryMedian = names.flatMap { q =>
      val xs = untraced.flatMap(_.execs).filter(e => e.q == q && e.ok).map(_.wallS).toSeq
      if (xs.nonEmpty) Some(q -> Util.median(xs)) else None
    }.toMap
    val tail = Util.tail(okExecs)

    val endToEnd = Map(
      "setup_s" -> (sessionS + warmS),
      "batch_s" -> batchS,
      // the typical query: median over queries of each one's median time
      "op_s_p50" -> (if (perQueryMedian.size == names.size) Util.median(perQueryMedian.values.toSeq)
                     else Double.NaN),
      "peak_rss_mb" -> Util.peakRssMb())
    val layers = if (ctx.trace) layerMetrics(ctx, probe, passes.toSeq) else Map.empty[String, Double]
    val info = Map[String, Any](
      "passes" -> untraced.size, "pass_s" -> untraced.map(_.sumS),
      "setup_session_s" -> sessionS, "setup_warmup_pass_s" -> warmS,
      "query_s_p50" -> (if (okExecs.nonEmpty) Util.median(okExecs) else Double.NaN),
      "query_s_tail" -> tail.map(_._1), "query_s_tail_pct" -> tail.map(_._2),
      "query_s_samples" -> okExecs.size,
      "failed_frac" -> failed.toDouble / attempted,
      "query_median_s" -> perQueryMedian, "errors" -> bad)
    Result(attempted, failed, endToEnd ++ layers, info)
  }

  /** Per-layer metrics of the traced passes (per-pass sums, median over
    * traced passes), the tracing overhead, and the span log.
    */
  private def layerMetrics(ctx: Ctx, probe: Probe, passes: Seq[Pass]): Map[String, Double] = {
    val trace = new Trace
    val runSpan = trace.open("run", startMs = passes.head.startMs)
    val perPass = passes.filter(_.traced).map { p =>
      val ps = trace.span(s"pass ${p.idx}", runSpan, p.startMs, p.endMs, "traced" -> p.traced)
      val perExec = p.execs.map { e =>
        val qs = trace.span(e.q, ps, e.t0, e.t1, "ok" -> e.ok)
        val bs = trace.span("SparkEntry.build", qs, e.t0, e.tb)
        val xs = trace.span("exec", qs, e.tb, e.t1)
        probe.jobsIn(e.t0, e.t1).foreach { j =>
          trace.span(s"job ${j.id}", if (j.startMs < e.tb) bs else xs, j.startMs,
            if (j.endMs < 0) e.t1 else j.endMs,
            "pin" -> j.callSite.contains("Materialize.scala"))
        }
        val w = probe.window(e.t0, e.t1, ctx.cpus)
        val m = w ++ Map(
          "plans.plan_ms" -> probe.window(e.tb, e.t1, ctx.cpus)("plans.plan_ms"),
          "plans.codegen_compiles" -> e.codegen._1.toDouble,
          "plans.codegen_compile_ms" -> e.codegen._2,
          "SparkEntry.build_s" -> (e.tb - e.t0) / 1000.0,
          "SparkEntry.build_jobs" -> probe.jobsIn(e.t0, e.tb).size.toDouble)
        trace.annotate(qs, m.toSeq: _*)
        e -> m
      }
      val sums = perExec.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
      val wallS = p.execs.map(_.wallS).sum
      // ratios and maxima are not additive: recompute them over the pass
      sums ++ Map(
        "operators.busy_frac" -> sums("operators.task_s") / (wallS * ctx.cpus),
        "operators.peak_exec_mb" -> perExec.map(_._2("operators.peak_exec_mb")).max) ++
        perQuery.flatMap { q =>
          val es = p.execs.filter(_.q == q)
          Seq(s"query.${q}_s" -> es.map(_.wallS).sum,
            s"query.$q.jobs" -> es.map(e => probe.jobsIn(e.t0, e.t1).size).sum.toDouble)
        }
    }
    trace.close(runSpan, passes.last.endMs)
    trace.write(ctx.work.resolve(s"trace/${ctx.workload}-seed${ctx.seed}.json"))
    val keys = perPass.head.keys
    val untracedS = passes.filterNot(_.traced).map(_.sumS)
    val tracedS = passes.filter(_.traced).map(_.sumS)
    Follow.idleLayers ++ keys.map(k => k -> Util.median(perPass.map(_(k)))).toMap ++ Map(
        "trace.overhead_ratio" -> Util.median(tracedS) / Util.median(untracedS))
  }

  /** Dump every listed query's output with `graft.Verify` into `dir`,
    * with the oracle SQL beside it for tools/check.py, and return each
    * dumped output's row count and digest (read back from the dump).
    */
  def digestDump(ctx: Ctx, dir: String): Result = {
    val spark = ctx.session()
    val errors = graft.Verify.dump(spark, ctx.data, dir,
      SparkEntry.queries.filter(kv => listed(kv._1)))
    Files.writeString(Path.of(dir, "oracle_sql.json"),
      Util.json(SparkEntry.oracleSql.filter(kv => listed(kv._1))))
    val out = listed.toSeq.sorted.filterNot(errors.contains).map { q =>
      val (rows, d) = digest(spark.read.parquet(s"$dir/$q"))
      q -> Map("rows" -> rows, "digest" -> d)
    }.toMap
    spark.stop()
    Result(listed.size, errors.size, Map.empty, Map("queries" -> out, "errors" -> errors))
  }

  private val listed: Set[String] = lists.values.flatten.toSet
}

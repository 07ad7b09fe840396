package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.HeliumFixtures
import graft.streaming.HeliumStreamFollower

/** The fixture chain amplified to any height: height h serves a copy of
  * fixture block 100 + (h − 100) mod 3 with its block and transaction
  * hashes re-keyed by height and by the run's salt, so every height's
  * documents get distinct content keys. A seeded ~2% of transactions
  * answer −100 once before they succeed.
  */
final class Chain(salt: Long, val top: Long) {
  private val mapper = new ObjectMapper
  private val txRe = """"hash":"(tx\d+)"""".r
  private val base = HeliumFixtures.blockJsonByHeight
  private val basePayloads = HeliumFixtures.payloadByHash

  val blocks = mutable.HashMap.empty[Long, String]
  val payloads = mutable.HashMap.empty[String, String]
  /** Expected committed rows per height, derived from the chain itself. */
  val payments = mutable.HashMap.empty[Long, Long]
  val receipts = mutable.HashMap.empty[Long, Long]
  val accounts = mutable.HashSet.empty[String]

  (100L to top).foreach { h =>
    val t = 100L + (h - 100L) % 3L
    var j = base(t)
      .replace(s""""height":$t""", s""""height":$h""")
      .replace(s""""hash":"bh$t"""", s""""hash":"bh$h"""")
      .replace(s""""prev_hash":"bh${t - 1}"""", s""""prev_hash":"bh${h - 1}"""")
    txRe.findAllMatchIn(base(t)).map(_.group(1)).toSeq.distinct.foreach { tx =>
      val salted = s"${tx}s${salt}h$h"
      j = j.replace(s""""hash":"$tx"""", s""""hash":"$salted"""")
      payloads(salted) = basePayloads(tx).replace(s""""hash":"$tx"""", s""""hash":"$salted"""")
    }
    blocks(h) = j
    var pay = 0L
    var rcp = 0L
    mapper.readTree(j).get("transactions").elements().asScala.foreach { t =>
      val p = mapper.readTree(payloads(t.get("hash").asText()))
      t.get("type").asText() match {
        case "payment_v1" =>
          pay += 1
          accounts += p.get("payer").asText() += p.get("payee").asText()
        case "payment_v2" =>
          val ps = p.get("payments").elements().asScala.toSeq
          pay += ps.map(_.toString).distinct.size
          accounts += p.get("payer").asText()
          ps.foreach(x => accounts += x.get("payee").asText())
        case "poc_receipts_v1" | "poc_receipts_v2" =>
          val path = p.get("path")
          if (path.size() > 0) rcp += path.get(0).get("witnesses").size()
        case _ => ()
      }
    }
    payments(h) = pay
    receipts(h) = rcp
  }

  /** Transaction hashes that fail once: a seeded 2% sample. */
  def flaky(seed: Long): Map[String, Int] = {
    val rnd = new Random(seed)
    payloads.keys.toSeq.sorted.filter(_ => rnd.nextDouble() < 0.02).map(_ -> 1).toMap
  }
}

/** JSON-RPC node stub owned by the benchmark (block_height, block_get,
  * transaction_get; −100 for anything missing or not yet indexed). It
  * counts requests per method, the −100 answers it serves to flaky
  * transactions, and its handlers' busy time.
  */
final class RpcStub(chain: Chain, tip0: Long, flaky: Map[String, Int], threads: Int) {
  val tip = new AtomicLong(tip0)
  val requests = new AtomicLong
  val heightCalls = new AtomicLong
  val blockGets = new AtomicLong
  val txnGets = new AtomicLong
  val retriesServed = new AtomicLong
  val errors = new AtomicLong
  val busyNs = new AtomicLong
  private val flakyLeft = new ConcurrentHashMap[String, Integer](flaky.map { case (k, v) => k -> Integer.valueOf(v) }.asJava)
  private val mapper = new ObjectMapper

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    requests.incrementAndGet()
    val req = mapper.readTree(ex.getRequestBody.readAllBytes())
    val id = req.get("id").asLong()
    val result: Either[Int, String] = req.get("method").asText() match {
      case "block_height" =>
        heightCalls.incrementAndGet()
        Right(math.min(chain.top, tip.get()).toString)
      case "block_get" =>
        blockGets.incrementAndGet()
        val h = req.get("params").get("height").asLong()
        if (h > tip.get()) Left(-100) else chain.blocks.get(h).toRight(-100)
      case "transaction_get" =>
        txnGets.incrementAndGet()
        val hash = req.get("params").get("hash").asText()
        val left = flakyLeft.getOrDefault(hash, 0)
        if (left > 0) {
          flakyLeft.put(hash, left - 1)
          retriesServed.incrementAndGet()
          Left(-100)
        } else chain.payloads.get(hash).toRight(-100)
      case _ => Left(-32601)
    }
    val body = result match {
      case Right(r) => s"""{"jsonrpc":"2.0","id":$id,"result":$r}"""
      case Left(code) =>
        errors.incrementAndGet()
        s"""{"jsonrpc":"2.0","id":$id,"error":{"code":$code,"message":"not available"}}"""
    }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
    busyNs.addAndGet(System.nanoTime() - t0)
  }

  private val pool = Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()
  val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/"

  def counters: Map[String, Long] = Map(
    "requests" -> requests.get, "height" -> heightCalls.get,
    "block_get" -> blockGets.get, "txn_get" -> txnGets.get,
    "retries" -> retriesServed.get, "errors" -> errors.get, "busy_ns" -> busyNs.get)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

/** The follower workload: `HeliumStreamFollower` over the benchmark's
  * RPC stub. Phase 1 drains a fixed backlog with admission-capped epochs
  * (`batch_s`); phase 2 publishes one height at a time and times each
  * from publication to its rows being committed and checkpointed
  * (`op_s_*`), until the run's seconds are used.
  */
object Follow {
  val backlog = 150L // heights drained in phase 1
  val capPerTrigger = 100L
  val maxTipSamples = 400L
  val minTipSamples = 9
  val warmHeights = 30L

  /** The follower layers' metric names, zero on workloads that do not
    * exercise them.
    */
  val idleLayers: Map[String, Double] = Seq(
    "sources.rpc_requests", "sources.rpc_block_gets", "sources.rpc_txn_gets",
    "sources.rpc_retries", "sources.rpc_ok_frac", "sources.rpc_s",
    "sources.latest_offset_ms", "streaming.epochs",
    "streaming.add_batch_ms_p50", "streaming.add_batch_ms_sum",
    "streaming.wal_commit_ms_p50", "streaming.wal_commit_ms_sum",
    "streaming.query_planning_ms_p50", "streaming.query_planning_ms_sum",
    "streaming.trigger_ms_p50", "streaming.trigger_ms_sum",
    "sinks.rows_committed", "sinks.bytes_written_mb", "sinks.files_written",
  ).map(_ -> 0.0).toMap

  private def start(spark: SparkSession, stub: RpcStub, dir: Path,
                    cpus: Int): StreamingQuery =
    HeliumStreamFollower.start(spark, stub.endpoint,
      dir.resolve("sink").toString, dir.resolve("ckpt").toString,
      startHeight = 99L, maxHeightsPerTrigger = capPerTrigger, numPartitions = cpus,
      maxRetries = 3, sleepMs = 0L, receiptRetentionBlocks = Some(7200L))

  private final case class Phase(name: String, startMs: Double, endMs: Double,
                                 rpc0: Map[String, Long], rpc1: Map[String, Long])

  /** Drain `backlog` heights from a fresh stub into `dir`; returns the
    * live query, the stub, and the drain's wall seconds.
    */
  private def catchUp(spark: SparkSession, chain: Chain, flaky: Map[String, Int],
                      dir: Path, cpus: Int): (StreamingQuery, RpcStub, Double, Double, Double) = {
    val stub = new RpcStub(chain, 99L + backlog, flaky, 2 * cpus)
    val t0 = Util.nowMs
    val q = start(spark, stub, dir, cpus)
    q.processAllAvailable()
    val t1 = Util.nowMs
    (q, stub, (t1 - t0) / 1000.0, t0, t1)
  }

  def run(ctx: Ctx): Result = {
    val chain = new Chain(ctx.seed, 99L + backlog + maxTipSamples)
    val flaky = chain.flaky(ctx.seed)
    val warmChain = new Chain(ctx.seed + 1, 99L + warmHeights)
    Util.deleteRecursively(ctx.work.resolve("follow"))

    // set-up, three times: stub and stream start, warm-up drain
    val spark = ctx.session()
    val setupS = (1 to 3).map { i =>
      val t0 = System.nanoTime()
      val stub = new RpcStub(warmChain, warmChain.top, Map.empty, 2 * ctx.cpus)
      val q = start(spark, stub, ctx.work.resolve(s"follow/warm$i"), ctx.cpus)
      try q.processAllAvailable() finally { q.stop(); stub.stop() }
      (System.nanoTime() - t0) / 1e9
    }

    val probe = new Probe
    // traced runs also drain once untraced, for the tracing overhead
    val untracedCatchUpS =
      if (!ctx.trace) None
      else {
        val (q, stub, s, _, _) = catchUp(spark, chain, flaky, ctx.work.resolve("follow/untraced"), ctx.cpus)
        q.stop(); stub.stop()
        Some(s)
      }
    if (ctx.trace) probe.attach(spark)
    val cg0 = probe.codegen()
    val dir = ctx.work.resolve("follow/run")
    val (q, stub, catchUpS, c0, c1) = catchUp(spark, chain, flaky, dir, ctx.cpus)
    val rpcAfterCatchUp = stub.counters
    val deadline = c0 + ctx.seconds * 1000.0
    val tipLat = mutable.ArrayBuffer.empty[Double]
    try {
      while ((Util.nowMs < deadline || tipLat.size < minTipSamples) && stub.tip.get() < chain.top) {
        val t0 = System.nanoTime()
        stub.tip.incrementAndGet()
        q.processAllAvailable()
        tipLat += (System.nanoTime() - t0) / 1e9
      }
    } finally { q.stop(); stub.stop() }
    val t2 = Util.nowMs
    val cg1 = probe.codegen()
    val rpcEnd = stub.counters

    // output checks: every published height committed with the rows the
    // chain implies, and the account vertices' distinct keys
    val top = stub.tip.get()
    val sink = dir.resolve("sink").toString
    def perBlock(c: String): Map[Long, Long] =
      spark.read.parquet(s"$sink/$c").groupBy(col("block")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gotPay = perBlock("payments")
    val gotRcp = perBlock("poc_receipts")
    val badHeights = (100L to top).filter { h =>
      gotPay.getOrElse(h, 0L) != chain.payments(h) || gotRcp.getOrElse(h, 0L) != chain.receipts(h)
    }
    val gotAccounts = spark.read.parquet(s"$sink/accounts").select("_key").distinct().count()
    val rows = Seq("payments", "poc_receipts", "accounts")
      .map(c => spark.read.parquet(s"$sink/$c").count()).sum
    val accountsOk = gotAccounts == chain.accounts.size
    spark.stop()

    val attempted = top - 99L
    val failed = badHeights.size.toLong + (if (accountsOk) 0L else 1L)
    val tail = Util.tail(tipLat.toSeq)
    val endToEnd = Map(
      "setup_s" -> Util.median(setupS),
      "batch_s" -> catchUpS,
      "op_s_p50" -> Util.median(tipLat.toSeq),
      "peak_rss_mb" -> Util.peakRssMb())
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else layerMetrics(ctx, probe, Seq(
        Phase("catchup", c0, c1, Map.empty, rpcAfterCatchUp),
        Phase("tip", c1, t2, rpcAfterCatchUp, rpcEnd)), dir) ++ Map(
        "sinks.rows_committed" -> rows.toDouble,
        "plans.codegen_compiles" -> (cg1._1 - cg0._1).toDouble,
        "plans.codegen_compile_ms" -> (cg1._2 - cg0._2),
        "trace.overhead_ratio" -> catchUpS / untracedCatchUpS.get)
    val info = Map[String, Any](
      "backlog_heights" -> backlog, "tip_samples" -> tipLat.size,
      "catchup_blocks_per_s" -> backlog / catchUpS,
      "tip_block_s_p50" -> Util.median(tipLat.toSeq),
      "tip_block_s_tail" -> tail.map(_._1), "tip_block_s_tail_pct" -> tail.map(_._2),
      "failed_frac" -> failed.toDouble / attempted,
      "flaky_txns" -> flaky.size, "rpc" -> rpcEnd,
      "edges_committed" -> (gotPay.values.sum + gotRcp.values.sum),
      "edges_expected" -> (100L to top).map(h => chain.payments(h) + chain.receipts(h)).sum,
      "accounts" -> gotAccounts, "accounts_expected" -> chain.accounts.size,
      "bad_heights" -> badHeights.take(20))
    Result(attempted, failed, endToEnd ++ layers, info)
  }

  private def layerMetrics(ctx: Ctx, probe: Probe, phases: Seq[Phase], dir: Path): Map[String, Double] = {
    val trace = new Trace
    val lo = phases.head.startMs
    val hi = phases.last.endMs
    val runSpan = trace.span("run", -1, lo, hi)
    phases.foreach { p =>
      val rpc = p.rpc1.map { case (k, v) => k -> (v - p.rpc0.getOrElse(k, 0L)) }
      val ps = trace.span(p.name, runSpan, p.startMs, p.endMs, rpc.toSeq.map { case (k, v) => s"rpc.$k" -> v }: _*)
      probe.epochs.filter(e => e.startMs >= p.startMs && e.startMs < p.endMs).foreach { e =>
        val es = trace.span(s"epoch ${e.batchId}", ps, e.startMs, e.startMs + e.triggerMs,
          "input_rows" -> e.inputRows)
        // durationMs carries no start times: lay the phases out in the
        // micro-batch engine's order
        var t = e.startMs
        Seq("latestOffset" -> e.latestOffsetMs, "walCommit" -> e.walCommitMs,
          "getBatch" -> e.getBatchMs, "queryPlanning" -> e.planningMs,
          "addBatch" -> e.addBatchMs, "commitOffsets" -> e.commitOffsetsMs).foreach {
          case (n, d) => trace.span(n, es, t, t + d); t += d
        }
      }
    }
    trace.write(ctx.work.resolve(s"trace/${ctx.workload}-seed${ctx.seed}.json"))

    val eps = probe.epochs.filter(e => e.startMs >= lo && e.startMs < hi).toSeq
    def both(name: String, f: Probe.Epoch => Double): Seq[(String, Double)] = {
      val xs = eps.map(f)
      Seq(s"streaming.${name}_p50" -> (if (xs.isEmpty) 0.0 else Util.median(xs)),
        s"streaming.${name}_sum" -> xs.sum)
    }
    val rpc = phases.last.rpc1
    val files = Files.walk(dir.resolve("sink")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
    val w = probe.window(lo, hi, ctx.cpus)
    w ++ QueryBench.idleLayers ++ Map(
      "sources.rpc_requests" -> rpc("requests").toDouble,
      "sources.rpc_block_gets" -> rpc("block_get").toDouble,
      "sources.rpc_txn_gets" -> rpc("txn_get").toDouble,
      "sources.rpc_retries" -> rpc("retries").toDouble,
      "sources.rpc_ok_frac" -> (1.0 - rpc("errors").toDouble / rpc("requests")),
      "sources.rpc_s" -> rpc("busy_ns") / 1e9,
      "sources.latest_offset_ms" -> eps.map(_.latestOffsetMs).sum,
      "streaming.epochs" -> eps.size.toDouble,
      "sinks.files_written" -> files.size.toDouble,
      "sinks.bytes_written_mb" -> files.map(Files.size(_).toDouble).sum / (1024.0 * 1024.0)) ++
      both("add_batch_ms", _.addBatchMs) ++ both("wal_commit_ms", _.walCommitMs) ++
      both("query_planning_ms", _.planningMs) ++ both("trigger_ms", _.triggerMs)
  }
}

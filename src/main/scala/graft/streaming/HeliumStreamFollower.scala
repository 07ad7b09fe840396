package graft.streaming

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.operators.HeliumGraph
import graft.sinks.GraphSink
import graft.sources.HeliumBlockStreamProvider

/** The ENGINE-DRIVEN follower — the reference's poll loop
  * (follower.py:44-75) as one Structured Streaming query, composing
  * the three seams that are each unit-tested on their own into the
  * integration a real user runs first:
  *
  *   readStream(HeliumBlockStreamProvider)   — S1-S3, offsets = heights
  *     → HeliumGraph parity transforms       — P1-P4 / N1-N4
  *     → GraphSink insert-ignore commit      — S5 / F8 / T5
  *   with the engine's own WAL checkpointing — T1 / T2
  *
  * Division of labor vs [[HeliumFollower]] (the driver-loop parity
  * path): there the CALLER owns the cursor, retries, and checkpoint
  * ordering, mirroring the reference line by line; here Spark's
  * micro-batch engine owns offset tracking, trigger policy, and
  * recovery, which is the deployment shape a 1000-executor cluster
  * actually uses. HeliumBlockStreamSpec pins the two byte-identical
  * over the same fixture range, including across a mid-backfill kill
  * and WAL restart.
  *
  * Exactly-once effect (T5) without sink transactions: the WAL
  * serializes half-open immutable height ranges, and every epoch's
  * commit lands under `batch=<offset-range end>` via overwrite — the
  * partition name is read back from the engine's own offsets WAL
  * ([[epochEndHeight]]), so it is a deterministic function of the
  * committed range even when tail heights carry no envelope rows, and
  * a replayed epoch (crash between sink write and WAL commit)
  * REWRITES its own partition with identical content-keyed rows
  * instead of appending duplicates.
  * Height-named partitions are also the unit the driver loop commits
  * (HeliumFollower's `hi`) and what T7 height-based retention drops.
  * The account collection keeps the reference's insert-ignore
  * collapse deferred to read (the A3 distinct view), exactly like the
  * driver loop.
  */
object HeliumStreamFollower {

  /** One epoch's transform + commit — the follower.py:145-207 body
    * over an envelope micro-batch: the three collections, each
    * content-keyed, in-batch deduped, and committed by partition
    * overwrite under `batch=<hi>` (idempotent under epoch replay), then
    * the [[housekeeping]]. The one commit both followers run: the
    * stream passes its epoch's offset-range end ([[epochEndHeight]]) as
    * `hi`, the driver loop its own cursor `hi` — so partition names,
    * the retention cutoff and the refresh trigger follow the committed
    * range even when its tail heights carry no envelope rows. The
    * driver loop leaves the housekeeping arguments at their no-op
    * defaults and runs [[housekeeping]] itself after its checkpoint.
    *
    * With an [[GraphSink.ImportTarget]], each committed partition is
    * read back and POSTed as importBulk bodies from the executors — the
    * reference's wire verb, byte-derived from exactly what the store of
    * record holds. A replayed epoch re-POSTs its partition, which the
    * store's onDuplicate=ignore absorbs (every document carries its
    * content-hash `_key`) — the HTTP sink inherits T5 from the key
    * discipline, not from any sink-side transaction.
    *
    * KNOWN parity divergence (pinned by spec, documented by design):
    * when every block of an epoch fails block_get (a node pruned or
    * persistently erroring below its own tip), retry-then-skip leaves
    * an EMPTY envelope — indistinguishable here from a served range
    * whose blocks carry no transactions. The stream then commits an
    * empty `batch=hi` partition and runs the housekeeping (the engine
    * committed the range, so the cursor semantics say it is processed),
    * while the driver loop's fetchRange sees no block and commits
    * NOTHING for the same range. Both are defensible cursor readings;
    * the streamed one is preferred because an epoch the WAL committed
    * must never be silently un-processed on restart replay.
    */
  def commitBatch(env: DataFrame, sinkDir: String, hi: Long,
                  importTarget: Option[GraphSink.ImportTarget] = None,
                  receiptRetentionBlocks: Option[Long] = None,
                  inventoryHeight: () => Option[Long] = () => None,
                  onInventoryRefresh: () => Unit = () => (),
                  inventoryLag: Long = 500L): Unit = {
    // ONE source evaluation per epoch: the transforms read the
    // envelope four ways (two payment variants, receipts, accounts),
    // and an un-persisted micro-batch re-runs its partition readers
    // per action — i.e. refetches every block over HTTP and burns the
    // per-task retry budget three extra times.
    //
    // Raw `persist()` here, NOT the Materialize seam used by the batch
    // operators: the seam exists to TRUNCATE LINEAGE under iteration
    // (its localCheckpoint/write-out strategies cut the plan), and
    // cutting a micro-batch's lineage would detach the epoch's plan
    // from the streaming source it must re-derive from under task
    // retry. An epoch envelope is already bounded by the admission cap
    // — plain block caching is the whole requirement, so this one
    // site deliberately bypasses the seam.
    val cached = env.persist()
    try {
      val payments = HeliumGraph.paymentV1Edges(cached)
        .unionByName(HeliumGraph.paymentV2Edges(cached))
        .dropDuplicates("_key")
      val receipts = HeliumGraph.receiptEdges(cached)
        .dropDuplicates("_key")
      val accounts = HeliumGraph.accountVertices(cached)
      Seq(payments -> "payments", receipts -> "poc_receipts",
        accounts -> "accounts").foreach { case (df, c) =>
        df.write.mode(SaveMode.Overwrite)
          .parquet(s"$sinkDir/$c/batch=$hi")
        importTarget.foreach { t =>
          GraphSink.importBulkPost(
            env.sparkSession.read.parquet(s"$sinkDir/$c/batch=$hi"),
            t, c)
        }
      }
    } finally { cached.unpersist(); () }
    housekeeping(sinkDir, hi, receiptRetentionBlocks, inventoryHeight,
      onInventoryRefresh, inventoryLag)
  }

  /** The reference loop's post-commit housekeeping for a batch ending
    * at `hi`: the receipt retention partition drop (T7,
    * follower.py:210-214), then the inventory-lag refresh trigger (T6,
    * follower.py:61-62).
    */
  private[streaming] def housekeeping(sinkDir: String, hi: Long,
                                      receiptRetentionBlocks: Option[Long],
                                      inventoryHeight: () => Option[Long],
                                      onInventoryRefresh: () => Unit,
                                      inventoryLag: Long): Unit = {
    receiptRetentionBlocks.foreach { keep =>
      Follower.dropExpiredBatches(s"$sinkDir/poc_receipts", hi - keep)
    }
    if (Follower.shouldRefreshInventory(hi, inventoryHeight(),
      inventoryLag)) onInventoryRefresh()
  }

  /** The epoch's committed end height — the (lo, hi] offset-range end
    * the engine planned for `batchId`, read back from its own offsets
    * WAL at `checkpointDir/offsets/<batchId>`. This is the SAME `hi`
    * the driver loop checkpoints (HeliumFollower.step), so partition
    * names, the retention cutoff, and the inventory-refresh trigger
    * stay parity-exact even when an epoch's tail heights yield no
    * envelope rows (a data-max probe would under-report there).
    *
    * Deterministic under replay: the engine writes the offsets entry
    * BEFORE the batch first runs and never rewrites it, so a replayed
    * epoch reads back the identical range. File shape is the engine's
    * OffsetSeqLog: a version line, the batch-metadata JSON line, then
    * one serialized offset per source — this query has exactly one
    * source, whose HeightOffset.json() is the decimal height.
    */
  private[streaming] def epochEndHeight(spark: SparkSession,
                                        checkpointDir: String,
                                        batchId: Long): Long = {
    val path = new Path(s"$checkpointDir/offsets/$batchId")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(path)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = text.split("\n").filter(_.nonEmpty)
    require(lines.length == 3 && lines.head.startsWith("v"),
      s"unexpected offsets WAL shape at $path " +
        s"(${lines.length} non-empty lines)")
    val raw = lines(2).trim
    // fail fast WITH the offending content: a void offset line ('-')
    // or an OffsetSeqLog format change must name itself, not surface
    // as a bare NumberFormatException (ADVICE r11)
    try raw.toLong
    catch { case e: NumberFormatException =>
      throw new IllegalStateException(
        s"offsets WAL at $path: expected a decimal height on the " +
          s"offset line, got '$raw' (void offset or format change?)", e)
    }
  }

  /** The configured query, trigger left to the caller (production
    * uses the default continuous polling; specs use Trigger.Once /
    * processAllAvailable). `startHeight` is the exclusive cursor seed
    * honored only on FIRST start — a restart recovers the committed
    * offset from the WAL at `checkpointDir` and ignores it.
    */
  def writer(spark: SparkSession, endpoint: String, sinkDir: String,
             checkpointDir: String, startHeight: Long,
             maxHeightsPerTrigger: Long = 0L, numPartitions: Int = 4,
             maxRetries: Int = 50, sleepMs: Long = 10000L,
             importTarget: Option[GraphSink.ImportTarget] = None,
             receiptRetentionBlocks: Option[Long] = None,
             inventoryHeight: () => Option[Long] = () => None,
             onInventoryRefresh: () => Unit = () => (),
             inventoryLag: Long = 500L)
      : DataStreamWriter[Row] =
    spark.readStream
      .format(classOf[HeliumBlockStreamProvider].getName)
      .option("endpoint", endpoint)
      .option("startHeight", startHeight.toString)
      .option("maxHeightsPerTrigger", maxHeightsPerTrigger.toString)
      .option("numPartitions", numPartitions.toString)
      .option("maxRetries", maxRetries.toString)
      .option("sleepMs", sleepMs.toString)
      .load()
      .writeStream
      .foreachBatch { (env: DataFrame, batchId: Long) =>
        commitBatch(env, sinkDir, epochEndHeight(spark, checkpointDir,
          batchId), importTarget, receiptRetentionBlocks, inventoryHeight,
          onInventoryRefresh, inventoryLag)
      }
      .option("checkpointLocation", checkpointDir)

  /** Start with the default trigger (continuous micro-batch polling —
    * the reference loop's steady state).
    */
  def start(spark: SparkSession, endpoint: String, sinkDir: String,
            checkpointDir: String, startHeight: Long,
            maxHeightsPerTrigger: Long = 0L, numPartitions: Int = 4,
            maxRetries: Int = 50, sleepMs: Long = 10000L,
            importTarget: Option[GraphSink.ImportTarget] = None,
            receiptRetentionBlocks: Option[Long] = None,
            inventoryHeight: () => Option[Long] = () => None,
            onInventoryRefresh: () => Unit = () => (),
            inventoryLag: Long = 500L)
      : StreamingQuery =
    writer(spark, endpoint, sinkDir, checkpointDir, startHeight,
      maxHeightsPerTrigger, numPartitions, maxRetries, sleepMs,
      importTarget, receiptRetentionBlocks, inventoryHeight,
      onInventoryRefresh, inventoryLag).start()
}

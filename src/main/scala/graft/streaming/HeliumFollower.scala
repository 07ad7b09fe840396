package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sinks.GraphSink
import graft.sources.TxnSource

/** The reference's complete follower loop over the block/txn ingest
  * seam (follower.py:44-75 end to end): fetch a cursor batch from any
  * TxnSource (fixture or live JSON-RPC — graft.sources.RpcTxnSource),
  * run the parity transforms, and commit the three collections the
  * reference materializes (payments + poc_receipts edges, accounts
  * vertices; follower.py:205-207) idempotently, checkpointing strictly
  * AFTER the sink commit (follower.py:73 ordering).
  *
  * The commit itself is [[HeliumStreamFollower.commitBatch]], the same
  * one the engine-driven follower runs per epoch; this loop owns only
  * the cursor and the order collections → checkpoint → housekeeping.
  *
  * Same idempotency scheme as the generic Follower (T5): content-hash
  * keys + in-batch dedup + overwrite-by-batch-partition — re-running a
  * batch replaces its own partition rather than appending duplicates.
  * The account collection has no batch affinity in the reference (the
  * same address appears in many blocks and the store's insert-ignore
  * collapses it); here each batch's partition holds the addresses it
  * saw, and the distinct set is the union view — the same collapse,
  * deferred to read (A3).
  *
  * Optional domain wiring, all off by default so the core loop stays
  * test-small:
  *   - `importTarget`: ArangoDB-wire sink — each collection's batch is
  *     ALSO posted as importBulk bodies over HTTP (the reference's
  *     actual write verb, follower.py:205-207), executor-side.
  *   - `receiptRetentionBlocks`: the reference's delete_old_receipts
  *     (follower.py:210-214) as a poc_receipts partition drop (T7) —
  *     batches entirely below cursor−retention are removed after each
  *     commit.
  *   - `inventoryHeight`/`onInventoryRefresh`: the T6 refresh trigger
  *     (follower.py:61-62) — fires when the cursor leads the inventory
  *     snapshot by more than `inventoryLag`.
  *   - `maxHeightsPerTrigger`: hard per-step height cap (the
  *     maxOffsetsPerTrigger analog) clamped over `batchSize`. A
  *     restarted follower that is a million blocks behind would
  *     otherwise be free to fetch `batchSize` heights per step with a
  *     batchSize tuned for steady-state; the cap bounds every step's
  *     fetch + transform + commit working set independently of tuning,
  *     so catch-up degrades to more batches instead of bigger ones.
  *     Each capped step still commits + checkpoints atomically, so the
  *     final tables are identical to an uncapped backfill.
  */
final class HeliumFollower(spark: SparkSession, source: TxnSource,
                           sinkDir: String, checkpointPath: String,
                           batchSize: Long,
                           importTarget: Option[GraphSink.ImportTarget] =
                             None,
                           receiptRetentionBlocks: Option[Long] = None,
                           inventoryHeight: () => Option[Long] =
                             () => None,
                           onInventoryRefresh: () => Unit = () => (),
                           inventoryLag: Long = 500L,
                           maxHeightsPerTrigger: Option[Long] = None) {
  require(maxHeightsPerTrigger.forall(_ > 0),
    s"maxHeightsPerTrigger must be positive; got $maxHeightsPerTrigger")

  def cursor(): Long = Follower.readCursor(checkpointPath)

  /** One cursor batch: fetch (c, c+batchSize] capped at `tip`, commit
    * all three collections, advance the checkpoint, then run the
    * housekeeping. None at the tip or when the source has nothing for
    * the range (caller polls, T3).
    */
  def step(tip: Long): Option[Long] = {
    val c = cursor()
    if (c >= tip) None
    else {
      val stepHeights =
        maxHeightsPerTrigger.fold(batchSize)(math.min(batchSize, _))
      val hi = math.min(c + stepHeights, tip)
      source.fetchRange(spark, c, hi).map { env =>
        HeliumStreamFollower.commitBatch(env, sinkDir, hi, importTarget)
        Follower.writeCursor(checkpointPath, hi) // AFTER sink commit
        HeliumStreamFollower.housekeeping(sinkDir, hi,
          receiptRetentionBlocks, inventoryHeight, onInventoryRefresh,
          inventoryLag)
        hi
      }
    }
  }

  /** Backfill to the tip (follower.py's catch-up phase). */
  def runToTip(tip: Long, maxBatches: Int = Int.MaxValue): Long = {
    var n = 0
    while (n < maxBatches && step(tip).isDefined) n += 1
    cursor()
  }

  /** A materialized collection (batch column from partition discovery). */
  def collection(name: String): DataFrame =
    spark.read.parquet(s"$sinkDir/$name")
}

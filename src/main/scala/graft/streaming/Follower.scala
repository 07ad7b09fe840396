package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.GraphEtl

/** Incremental cursor follower (SURVEY.md §2.10, T1-T7) — the Spark
  * re-expression of the reference's main loop (follower.py:44-75):
  * a monotone cursor over an append-only source, per-batch transform,
  * idempotent sink, checkpoint written strictly *after* the sink
  * commit (same ordering as follower.py:205-207 then :73).
  *
  * Differences from the reference, by design:
  *   - The "block stream" is any table with a monotone long cursor
  *     column (here events.event_id); a live JSON-RPC feed would plug
  *     in as a source adapter producing the same DataFrame.
  *   - Idempotency (T5) = content-hash `_key` dedup inside the batch +
  *     overwrite-by-batch-partition at the sink: re-running a batch
  *     replaces its own partition byte-for-byte instead of appending
  *     duplicates. At scale this is a metadata-only commit
  *     (dynamic partition overwrite), never read-before-write.
  *   - Retention (T7, disabled in the reference: "deletions not
  *     optimized yet") is a partition *drop*, O(1) per expired batch.
  *
  * The checkpoint (`follower_info` analog, follower.py:116-128) is a
  * single small JSON file — the driver-side singleton state, exactly
  * like the reference's one ArangoDB document.
  */
final class Follower(spark: SparkSession, sourceDir: String,
                     sinkDir: String, checkpointPath: String,
                     batchSize: Long) {

  /** T2: read the checkpoint; -1 = never run (backfill from start). */
  def cursor(): Long = Follower.readCursor(checkpointPath)

  private def source(): DataFrame =
    spark.read.parquet(s"$sourceDir/events.parquet")

  /** The per-batch transform: event rows → keyed edge-style documents
    * (P1-P4/F5 analog), deduped on the content key (T5).
    */
  def transformBatch(batch: DataFrame): DataFrame = {
    val docs = batch.select(
      col("event_id"), col("event_type"), col("user_id"),
      graft.Tables.tsUs(batch).as("ts_us"))
    docs
      .withColumn("_key",
        GraphEtl.contentKey(docs, Seq("event_id", "event_type", "user_id")))
      .dropDuplicates("_key")
  }

  /** T1/T3: process the next batch if any rows remain beyond the
    * cursor. Returns the new cursor, or None at the tip (caller polls,
    * follower.py:74-75).
    *
    * A sparse/gappy cursor column may leave whole windows empty while
    * events still exist beyond them; empty aligned windows are skipped
    * in one jump to the window containing the next event (ADVICE r2 —
    * the earlier isEmpty probe stranded the cursor before the tip).
    * The min-probe costs the same one scan the isEmpty probe did, and
    * at scale it's answered from parquet min/max stats under the
    * pushed cursor predicate.
    */
  def step(): Option[Long] = {
    val c0 = cursor()
    val nxt = source().filter(col("event_id") > c0)
      .agg(min(col("event_id"))).head()
    if (nxt.isNullAt(0)) None           // truly at the tip
    else {
      // window start aligned to the checkpoint grid, jumped forward
      // past any fully-empty windows so (c, c+batchSize] is non-empty
      val c = c0 + ((nxt.getLong(0) - c0 - 1) / batchSize) * batchSize
      val hi = c + batchSize
      val batch = source()
        .filter(col("event_id") > c && col("event_id") <= hi)
      // The batch id lives in the partition PATH only (hive-style);
      // overwrite of that one directory makes re-runs idempotent.
      transformBatch(batch)
        .write.mode(SaveMode.Overwrite)
        .parquet(s"$sinkDir/batch=$hi")
      Follower.writeCursor(checkpointPath, hi) // AFTER sink commit
      Some(hi)
    }
  }

  /** Backfill-then-stop: run batches until the source is drained. */
  def runToTip(maxBatches: Int = Int.MaxValue): Long = {
    var n = 0
    while (n < maxBatches && step().isDefined) n += 1
    cursor()
  }

  /** T7: retention as partition drop — delete sink batches whose upper
    * bound is below the cutoff. Metadata-only, no data rewrite.
    */
  def dropExpiredBatches(cutoffBatch: Long): Seq[Long] =
    Follower.dropExpiredBatches(sinkDir, cutoffBatch)

  /** The materialized sink as one DataFrame (for audits/specs); the
    * `batch` column comes from hive-style partition discovery.
    */
  def sink(): DataFrame = spark.read.parquet(sinkDir)
}

object Follower {
  private val CursorField = "\"sync_cursor\"\\s*:\\s*(-?\\d+)".r

  /** The `sync_cursor` checkpoint (follower_info analog) at `path`;
    * -1 when absent (never run).
    */
  def readCursor(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) -1L
    else {
      val s = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      CursorField.findFirstMatchIn(s).map(_.group(1).toLong)
        .getOrElse(sys.error(s"bad checkpoint at $path: $s"))
    }
  }

  /** Write the checkpoint tmp-then-atomic-move, so a crash leaves
    * either the old cursor or the new one, never a torn file.
    */
  def writeCursor(path: String, c: Long): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp,
      s"""{"sync_cursor": $c}""".getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** T7 partition drop on any batch=N-partitioned directory (shared by
    * the generic follower's sink and HeliumFollower's per-collection
    * retention). Metadata-only: directories are removed whole.
    */
  def dropExpiredBatches(dir: String, cutoffBatch: Long): Seq[Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Seq.empty
    else {
      import scala.jdk.CollectionConverters._
      val expired = Files.list(root).iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("batch="))
        .map(p => (p, p.getFileName.toString.stripPrefix("batch=").toLong))
        .filter(_._2 < cutoffBatch)
        .toSeq
      expired.foreach { case (p, _) =>
        Files.walk(p).sorted(java.util.Comparator.reverseOrder())
          .forEach(f => Files.delete(f))
      }
      expired.map(_._2).sorted
    }
  }

  /** T6 (follower.py:61-62): refresh the dimension snapshot when the
    * sync cursor leads the inventory snapshot by more than `lag`.
    * A None inventory height means the bootstrap never ran — treated
    * as "always refresh" rather than reproducing the reference's
    * uncaught TypeError (SURVEY §2.10 known quirk).
    */
  def shouldRefreshInventory(syncHeight: Long, inventoryHeight: Option[Long],
                             lag: Long = 500L): Boolean =
    inventoryHeight.forall(h => syncHeight - h > lag)
}

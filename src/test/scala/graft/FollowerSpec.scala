package graft

import java.nio.file.Files

import graft.streaming.Follower

class FollowerSpec extends SparkSpec {

  private def freshDirs(): (String, String) = {
    val base = Files.createTempDirectory("follower").toString
    (s"$base/sink", s"$base/checkpoint.json")
  }

  // events at sf0.001: 1000 rows, event_id 0..999
  test("cursor starts at -1, advances per batch, drains to tip") {
    val (sink, cp) = freshDirs()
    val f = new Follower(spark, sf0001, sink, cp, batchSize = 400L)
    assert(f.cursor() === -1L)
    assert(f.step() === Some(399L))
    assert(f.cursor() === 399L)
    f.runToTip()
    assert(f.step() === None) // at tip: poll, no-op
    val total = table("events").count()
    assert(f.sink().count() === total) // every event exactly once
    // SURVEY §5 item 4: a full second run is a no-op end to end
    val cursorBefore = f.cursor()
    f.runToTip()
    assert(f.cursor() === cursorBefore)
    assert(f.sink().count() === total)
  }

  test("re-running a batch is idempotent (overwrite, not append)") {
    val (sink, cp) = freshDirs()
    val f = new Follower(spark, sf0001, sink, cp, batchSize = 400L)
    f.step()
    val first = f.sink().count()
    // simulate a crash after sink commit but before checkpoint:
    // reset the checkpoint and reprocess the same batch
    Files.write(java.nio.file.Paths.get(cp),
      """{"sync_cursor": -1}""".getBytes)
    f.step()
    assert(f.sink().count() === first)
    assert(f.cursor() === 399L)
  }

  test("sync_cursor codec: atomic round trip; a malformed checkpoint " +
    "names its path and content") {
    val (_, cp) = freshDirs()
    assert(Follower.readCursor(cp) === -1L)
    Follower.writeCursor(cp, 862739L)
    assert(Follower.readCursor(cp) === 862739L)
    assert(!Files.exists(java.nio.file.Paths.get(cp + ".tmp")))
    Files.write(java.nio.file.Paths.get(cp), """{"cursor": 7}""".getBytes)
    val e = intercept[RuntimeException](Follower.readCursor(cp))
    assert(e.getMessage.contains(cp))
    assert(e.getMessage.contains("""{"cursor": 7}"""))
  }

  test("T4: bounded retry succeeds late, then skips on exhaustion") {
    import graft.sources.RetryPolicy.withRetries
    var slept = 0L
    val sleeper = (ms: Long) => slept += ms
    // succeeds on the 3rd attempt (2 retries)
    var calls = 0
    val (got, tries) = withRetries(maxRetries = 50, sleepMs = 10, sleeper) {
      () => { calls += 1; if (calls >= 3) Some("block") else None }
    }
    assert(got === Some("block") && tries === 3 && slept === 20L)
    // exhausts and skips (reference: cursor advances anyway)
    val (none, used) = withRetries(maxRetries = 5, sleepMs = 10, sleeper) {
      () => None
    }
    assert(none.isEmpty && used === 6)
  }

  test("fixture TxnSource serves cursor ranges through the seam") {
    val src = new graft.sources.FixtureTxnSource
    val batch = src.fetchRange(spark, 99L, 101L).get
    assert(batch.count() === 5) // blocks 100-101 of the fixtures
    assert(src.fetchRange(spark, 102L, 200L).get.count() === 0)
  }

  test("sparse cursor: empty windows are skipped, not stranding the follower") {
    // source with a gap: event_id 0..99 and 800..999 (700 missing ids)
    val base = Files.createTempDirectory("gappy").toString
    table("events")
      .filter("event_id < 100 OR event_id >= 800")
      .write.parquet(s"$base/events.parquet")
    val f = new Follower(spark, base, s"$base/sink", s"$base/cp.json",
      batchSize = 100L)
    assert(f.step() === Some(99L))   // (−1, 99]: the head range
    assert(f.step() === Some(899L))  // jumps the 7 empty windows in one step
    assert(f.step() === Some(999L))
    assert(f.step() === None)
    assert(f.sink().count() === 300) // every surviving event exactly once
  }

  test("T6: inventory refresh triggers on cursor lag; missing bootstrap refreshes") {
    import graft.streaming.Follower.shouldRefreshInventory
    assert(!shouldRefreshInventory(1000L, Some(800L)))  // lag 200 <= 500
    assert(shouldRefreshInventory(1501L, Some(1000L)))  // lag 501 > 500
    assert(shouldRefreshInventory(0L, None))            // no bootstrap
  }

  test("retention drops whole expired batch partitions") {
    val (sink, cp) = freshDirs()
    val f = new Follower(spark, sf0001, sink, cp, batchSize = 300L)
    f.runToTip() // batches 299, 599, 899, 1199
    val before = f.sink().select("batch").distinct().count()
    assert(before === 4)
    val dropped = f.dropExpiredBatches(600L)
    assert(dropped === Seq(299L, 599L))
    assert(f.sink().select("batch").distinct().count() === 2)
    assert(f.sink().filter("batch < 600").count() === 0)
  }
}

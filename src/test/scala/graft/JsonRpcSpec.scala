package graft

import com.fasterxml.jackson.databind.ObjectMapper

import graft.operators.HeliumGraph
import graft.sources.{HeliumBlockInputPartition, HeliumBlockReaderFactory,
  HeliumFixtures, JsonRpcClient, RpcTxnSource}

/** End-to-end S1-S3 over a real HTTP round-trip: the StubNode serves
  * the Helium fixtures; the RpcTxnSource must reproduce the fixture
  * envelope DataFrame and feed the parity transforms unchanged.
  */
class JsonRpcSpec extends SparkSpec {

  private val mapper = new ObjectMapper

  test("height / block_get / transaction_get over live HTTP") {
    StubNode.withServer() { endpoint =>
      val c = new JsonRpcClient(endpoint)
      assert(c.height() === 102L)
      assert(c.blockGet(999L).isEmpty) // −100 → missing
      val b = mapper.readTree(c.blockGet(100L).get)
      assert(b.get("height").asLong() === 100L)
      assert(b.get("transactions").size() === 2) // tx1 (dedup'd), tx2
      assert(c.transactionGet("tx1").get.contains("\"payer\":\"alice\""))
      assert(c.transactionGet("zzz").isEmpty)
    }
  }

  test("RpcTxnSource reproduces the fixture envelopes end-to-end") {
    StubNode.withServer() { endpoint =>
      val src = new RpcTxnSource(new JsonRpcClient(endpoint),
        maxRetries = 2, sleepMs = 0, sleep = _ => ())
      val env = src.fetchRange(spark, 99L, 102L).get
      // the listing dedups the duplicate tx1 row; everything else
      // equal. Payload bytes are compared SEMANTICALLY (via the
      // derived edges below): jackson re-serialization drops the
      // fixture JSON's incidental whitespace.
      val expected = HeliumFixtures.txnEnvelopes(spark).distinct()
      val meta = Seq("block", "block_time", "hash", "type").map
        { org.apache.spark.sql.functions.col }
      assert(env.count() === expected.count())
      assert(env.select(meta: _*).exceptAll(expected.select(meta: _*))
        .isEmpty)
      // beyond-tip range → None (chain tip not reached)
      assert(src.fetchRange(spark, 200L, 210L).isEmpty)
      // the parity transforms over the live-fetched frame produce the
      // exact same edges as over the fixture frame — every
      // payload-derived value round-trips the wire intact
      def rows(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toSeq).toSet
      def edges(d: org.apache.spark.sql.DataFrame) =
        rows(HeliumGraph.paymentV1Edges(d).dropDuplicates("_key")) ++
          rows(HeliumGraph.paymentV2Edges(d))
      assert(edges(env) === edges(expected))
      assert(edges(env).size === 5)
      assert(rows(HeliumGraph.receiptEdges(env)) ===
        rows(HeliumGraph.receiptEdges(expected)))
      assert(rows(HeliumGraph.receiptEdges(env)).size === 3)
    }
  }

  test("the DSv2 reader fans the backfill out across partitions") {
    StubNode.withServerCounts { (endpoint, requests) =>
      // three one-height slices of (99, 102], each read through the
      // executor-side reader exactly as a stream task reads it
      val factory = new HeliumBlockReaderFactory
      val streamed = (99L until 102L).flatMap { lo =>
        val r = factory.createReader(HeliumBlockInputPartition(lo, lo + 1,
          endpoint, maxRetries = 2, sleepMs = 0))
        try Iterator.continually(r.next()).takeWhile(identity).map { _ =>
          val row = r.get()
          Seq(row.getLong(0), row.getLong(1), row.getUTF8String(2),
            row.getUTF8String(3), row.getUTF8String(4)).mkString("|")
        }.toVector
        finally r.close()
      }
      // one RPC per block and per listed txn
      assert(requests("block_get") === 3L)
      assert(requests("transaction_get") === 6L)
      val serial = new RpcTxnSource(new JsonRpcClient(endpoint),
        maxRetries = 2, sleepMs = 0, sleep = _ => ())
        .fetchRange(spark, 99L, 102L).get
        .collect().map(_.toSeq.mkString("|")).toVector
      assert(streamed.sorted === serial.sorted)
      assert(streamed.size === 6)
    }
  }

  test("T4: a not-yet-indexed txn is retried, then skipped on exhaustion") {
    // tx2 succeeds on the 3rd try; tx3 exhausts its retries → skipped
    StubNode.withServer(flaky = Map("tx2" -> 2, "tx3" -> 99)) { endpoint =>
      var sleeps = 0
      val src = new RpcTxnSource(new JsonRpcClient(endpoint),
        maxRetries = 3, sleepMs = 10, sleep = _ => sleeps += 1)
      val env = src.fetchRange(spark, 99L, 102L).get
      val hashes = env.select("hash").distinct()
        .collect().map(_.getString(0)).toSet
      assert(hashes.contains("tx2"), "flaky txn recovered by retry")
      assert(!hashes.contains("tx3"), "exhausted txn skipped, not fatal")
      assert(sleeps >= 2 + 3, "retry policy slept between attempts")
    }
  }
}

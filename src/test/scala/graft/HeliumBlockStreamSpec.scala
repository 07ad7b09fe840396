package graft

import java.nio.file.Files

import graft.sources.{HeliumBlockStreamProvider, JsonRpcClient, RpcTxnSource}

/** The DataSource V2 micro-batch face of the S1-S3 seam, driven by
  * Spark's own streaming engine against the stub node: offsets are
  * block heights in the engine WAL, fetches run executor-side, and the
  * rows must be EXACTLY what the batch-path source produces for the
  * same cursor range.
  */
class HeliumBlockStreamSpec extends SparkSpec {

  private def envelopeRows(df: org.apache.spark.sql.DataFrame) =
    df.select("block", "block_time", "hash", "type", "payload")
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("streams the block range in capped micro-batches, " +
    "row-parity with the batch source") {
    StubNode.withServer() { endpoint =>
      val ckpt = Files.createTempDirectory("hbs-ckpt").toString
      val q = spark.readStream
        .format(classOf[HeliumBlockStreamProvider].getName)
        .option("endpoint", endpoint)
        .option("startHeight", "99") // exclusive cursor seed
        .option("maxHeightsPerTrigger", "1")
        .option("numPartitions", "2")
        .option("maxRetries", "2").option("sleepMs", "0")
        .load()
        .writeStream.format("memory").queryName("helium_blocks_stream")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        // parity: identical rows to the batch-path source over the
        // same (99, 102] range
        val batch = new RpcTxnSource(new JsonRpcClient(endpoint),
          maxRetries = 2, sleepMs = 0, sleep = _ => ())
          .fetchRange(spark, 99L, 102L).get
        val streamed = spark.sql("SELECT * FROM helium_blocks_stream")
        assert(envelopeRows(streamed) === envelopeRows(batch))
        assert(envelopeRows(streamed).nonEmpty)
        // the 1-height cap forced one micro-batch per block: 3 batches
        // moved data for heights 100..102
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        assert(dataBatches === 3,
          s"expected 3 capped batches, saw $dataBatches")
        // tip reached: another poll plans no work
        q.processAllAvailable()
        assert(spark.sql("SELECT * FROM helium_blocks_stream").count()
          === batch.count())
      } finally q.stop()
    }
  }

  test("capstone: engine-driven stream → transforms → sink equals the " +
    "driver-loop follower, across a mid-backfill kill and WAL restart") {
    import graft.streaming.{HeliumFollower, HeliumStreamFollower}
    val dir = Files.createTempDirectory("hsf").toString
    def writer(endpoint: String) = HeliumStreamFollower.writer(spark,
      endpoint, s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
      maxHeightsPerTrigger = 1L, numPartitions = 2,
      maxRetries = 2, sleepMs = 0L)
    // run 1 against a node whose tip is still 100: the stream drains
    // exactly that height, idles, and is killed mid-backfill — the
    // WAL has committed offset 100 with heights 101..102 outstanding.
    StubNode.withServer(tipCap = 100L) { endpoint =>
      val q1 = writer(endpoint).start()
      try q1.processAllAvailable() finally q1.stop()
    }
    val partialPayments =
      spark.read.parquet(s"$dir/sink/payments").count()
    StubNode.withServer() { endpoint =>
      // run 2: restart from the SAME checkpoint against the advanced
      // tip — must resume at the recovered offset (not the
      // startHeight seed) and drain the rest
      val q2 = writer(endpoint).start()
      try q2.processAllAvailable() finally q2.stop()
      // the driver-loop parity follower over the same fixture range
      val fdir = Files.createTempDirectory("hsf-follower").toString
      val f = new HeliumFollower(spark,
        new RpcTxnSource(new JsonRpcClient(endpoint),
          maxRetries = 2, sleepMs = 0, sleep = _ => ()),
        s"$fdir/sink", s"$fdir/checkpoint.json", batchSize = 2L)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$fdir/checkpoint.json"),
        """{"sync_cursor": 99}""")
      f.runToTip(102L)
      def rows(root: String, c: String) =
        spark.read.parquet(s"$root/$c").drop("batch")
          .collect().map(_.toSeq.mkString("|")).sorted.toSeq
      for (c <- Seq("payments", "poc_receipts")) {
        assert(rows(s"$dir/sink", c) === rows(s"$fdir/sink", c),
          s"collection $c diverged from the driver loop")
        assert(rows(s"$dir/sink", c).nonEmpty, s"collection $c empty")
      }
      // accounts: the A3 collapse-at-read distinct view on both sides
      def accounts(root: String) =
        spark.read.parquet(s"$root/accounts").select("_key").distinct()
          .collect().map(_.getString(0)).toSet
      assert(accounts(s"$dir/sink") === accounts(s"$fdir/sink"))
      assert(accounts(s"$dir/sink") ===
        Set("alice", "bob", "carol", "dave"))
      // the kill really was mid-backfill: run 1 committed strictly
      // fewer payment edges than the finished stream
      assert(partialPayments <
        rows(s"$dir/sink", "payments").size.toLong,
        "run 1 unexpectedly drained the whole backlog")
    }
  }

  test("capstone wire sink: engine-driven importBulk POSTs carry the " +
    "same documents as the driver loop's") {
    import graft.streaming.{HeliumFollower, HeliumStreamFollower}
    import scala.jdk.CollectionConverters._
    // compact to_json docs contain no nested objects/arrays here, so
    // splitting on "},{" recovers the exact document bytes (the
    // HeliumFollowerSpec convention)
    def docs(bodies: Seq[String]): Set[String] = bodies.flatMap { b =>
      assert(b.startsWith("[") && b.endsWith("]"))
      b.stripPrefix("[").stripSuffix("]").split("\\},\\{")
        .filter(_.nonEmpty)
        .map(d => (if (d.startsWith("{")) d else "{" + d) +
          (if (d.endsWith("}")) "" else "}"))
    }.toSet
    def collect(posted: Seq[(String, String)], c: String): Set[String] = {
      posted.foreach { case (path, _) =>
        assert(path.contains("&type=list&onDuplicate=ignore"))
      }
      docs(posted.collect {
        case (p, b) if p.contains(s"collection=$c&") => b
      })
    }
    // engine-driven: 1-height epochs
    val streamPosts = StubNode.withServerImports() { (endpoint, imports) =>
      val dir = Files.createTempDirectory("hsf-wire").toString
      val q = HeliumStreamFollower.writer(spark, endpoint,
        s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
        maxHeightsPerTrigger = 1L, numPartitions = 2,
        maxRetries = 2, sleepMs = 0L,
        importTarget = Some(
          graft.sinks.GraphSink.ImportTarget(endpoint, "helium")))
        .start()
      try q.processAllAvailable() finally q.stop()
      imports.asScala.toSeq
    }
    // driver loop: 2-height batches — DIFFERENT epoch boundaries, so
    // document-set parity (insert-ignore's collapse unit) is the
    // invariant, not body-level bytes
    val loopPosts = StubNode.withServerImports() { (endpoint, imports) =>
      val dir = Files.createTempDirectory("hsf-wire-loop").toString
      val f = new HeliumFollower(spark,
        new RpcTxnSource(new JsonRpcClient(endpoint),
          maxRetries = 2, sleepMs = 0, sleep = _ => ()),
        s"$dir/sink", s"$dir/checkpoint.json", batchSize = 2L,
        importTarget = Some(
          graft.sinks.GraphSink.ImportTarget(endpoint, "helium")))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/checkpoint.json"),
        """{"sync_cursor": 99}""")
      f.runToTip(102L)
      imports.asScala.toSeq
    }
    for (c <- Seq("payments", "poc_receipts", "accounts")) {
      val s = collect(streamPosts, c)
      assert(s === collect(loopPosts, c),
        s"wire documents for $c diverged from the driver loop")
      assert(s.nonEmpty, s"no documents posted for $c")
    }
  }

  test("capstone housekeeping: retention drop and inventory refresh " +
    "fire per epoch, matching the driver loop") {
    import graft.streaming.{HeliumFollower, HeliumStreamFollower}
    def partitions(root: String): Seq[String] =
      Option(new java.io.File(root).list()).fold(Seq.empty[String])(
        _.filter(_.startsWith("batch=")).sorted.toSeq)
    def receipts(root: String): Seq[String] =
      spark.read.parquet(root).drop("batch")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    // engine-driven: 1-height epochs, keep 1 block of receipts, a
    // stale inventory (height 0) against a tiny lag so the refresh
    // trigger must fire every epoch
    val (sParts, sRows, sRefreshes) = StubNode.withServer() { endpoint =>
      val dir = Files.createTempDirectory("hsf-keep").toString
      var refreshes = 0
      val q = HeliumStreamFollower.writer(spark, endpoint,
        s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
        maxHeightsPerTrigger = 1L, numPartitions = 2,
        maxRetries = 2, sleepMs = 0L,
        receiptRetentionBlocks = Some(1L),
        inventoryHeight = () => Some(0L),
        onInventoryRefresh = () => refreshes += 1,
        inventoryLag = 1L).start()
      try q.processAllAvailable() finally q.stop()
      (partitions(s"$dir/sink/poc_receipts"),
        receipts(s"$dir/sink/poc_receipts"), refreshes)
    }
    // driver loop: same per-height batching and retention config
    val (lParts, lRows, lRefreshes) = StubNode.withServer() { endpoint =>
      val dir = Files.createTempDirectory("hsf-keep-loop").toString
      var refreshes = 0
      val f = new HeliumFollower(spark,
        new RpcTxnSource(new JsonRpcClient(endpoint),
          maxRetries = 2, sleepMs = 0, sleep = _ => ()),
        s"$dir/sink", s"$dir/checkpoint.json", batchSize = 1L,
        receiptRetentionBlocks = Some(1L),
        inventoryHeight = () => Some(0L),
        onInventoryRefresh = () => refreshes += 1,
        inventoryLag = 1L)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$dir/checkpoint.json"),
        """{"sync_cursor": 99}""")
      f.runToTip(102L)
      (partitions(s"$dir/sink/poc_receipts"),
        receipts(s"$dir/sink/poc_receipts"), refreshes)
    }
    assert(sParts === lParts, "retained partitions diverged")
    assert(sParts.nonEmpty && sParts.size < 3,
      s"retention never dropped anything: $sParts")
    assert(sRows === lRows, "retained receipt rows diverged")
    assert(sRefreshes > 0 && lRefreshes > 0,
      "inventory refresh trigger never fired")
  }

  test("capstone kill/restart byte parity with the production " +
    "RocksDB conf set (this query keeps no streaming state — the " +
    "provider's stateful behavior is pinned in StreamingOpsSpec)") {
    import graft.streaming.{HeliumFollower, HeliumStreamFollower}
    // the production state-store config (Sessions.tuned
    // rocksdbStateStore = true), set per-query — the conf keys are
    // read at stream start, the StreamingOpsSpec discipline. The
    // follower's dropDuplicates runs batch-locally inside
    // foreachBatch, so no state store is instantiated here (ADVICE
    // r11): this pins that the production conf is HARMLESS to the
    // follower, not that RocksDB state works — StreamingOpsSpec's
    // flatMapGroupsWithState test owns that claim.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb." +
      "changelogCheckpointing.enabled"
    val prior = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    spark.conf.set(changelogKey, "true")
    try {
      val dir = Files.createTempDirectory("hsf-rocks").toString
      def writer(endpoint: String) = HeliumStreamFollower.writer(spark,
        endpoint, s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
        maxHeightsPerTrigger = 1L, numPartitions = 2,
        maxRetries = 2, sleepMs = 0L)
      StubNode.withServer(tipCap = 100L) { endpoint =>
        val q1 = writer(endpoint).start()
        try q1.processAllAvailable() finally q1.stop()
      }
      StubNode.withServer() { endpoint =>
        val q2 = writer(endpoint).start()
        try q2.processAllAvailable() finally q2.stop()
        val fdir = Files.createTempDirectory("hsf-rocks-loop").toString
        val f = new HeliumFollower(spark,
          new RpcTxnSource(new JsonRpcClient(endpoint),
            maxRetries = 2, sleepMs = 0, sleep = _ => ()),
          s"$fdir/sink", s"$fdir/checkpoint.json", batchSize = 2L)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$fdir/checkpoint.json"),
          """{"sync_cursor": 99}""")
        f.runToTip(102L)
        def rows(root: String, c: String) =
          spark.read.parquet(s"$root/$c").drop("batch")
            .collect().map(_.toSeq.mkString("|")).sorted.toSeq
        for (c <- Seq("payments", "poc_receipts")) {
          assert(rows(s"$dir/sink", c) === rows(s"$fdir/sink", c),
            s"collection $c diverged under RocksDB state store")
          assert(rows(s"$dir/sink", c).nonEmpty, s"collection $c empty")
        }
      }
    } finally {
      prior.fold(spark.conf.unset(providerKey))(
        spark.conf.set(providerKey, _))
      spark.conf.unset(changelogKey)
    }
  }

  test("empty-tail epoch: partition names, retention, and refresh " +
    "trigger follow the committed offset range, matching the driver " +
    "loop") {
    import graft.streaming.{HeliumFollower, HeliumStreamFollower}
    // a tip block the node serves with ZERO transactions: the final
    // (101, 103] epoch carries data only from height 102, so a
    // data-max partition name would commit batch=102 and compute the
    // retention cutoff / refresh trigger one height short of the
    // committed offset 103
    val emptyTip = Map(103L ->
      ("""{"hash":"bh103","height":103,"prev_hash":"bh102",""" +
        """"time":1600000400,"transactions":[]}"""))
    def partitions(root: String): Seq[String] =
      Option(new java.io.File(root).list()).fold(Seq.empty[String])(
        _.filter(_.startsWith("batch=")).sorted.toSeq)
    def rows(root: String): Seq[String] =
      spark.read.parquet(root).drop("batch")
        .collect().map(_.toSeq.mkString("|")).sorted.toSeq
    val (sParts, sRows) =
      StubNode.withServer(extraBlocks = emptyTip) { endpoint =>
        val dir = Files.createTempDirectory("hsf-tail").toString
        val q = HeliumStreamFollower.writer(spark, endpoint,
          s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
          maxHeightsPerTrigger = 2L, numPartitions = 2,
          maxRetries = 2, sleepMs = 0L,
          receiptRetentionBlocks = Some(1L),
          inventoryHeight = () => Some(0L),
          onInventoryRefresh = () => (),
          inventoryLag = 1L).start()
        try q.processAllAvailable() finally q.stop()
        (partitions(s"$dir/sink/payments"), rows(s"$dir/sink/payments"))
      }
    val (lParts, lRows) = StubNode.withServer(extraBlocks = emptyTip) {
      endpoint =>
        val dir = Files.createTempDirectory("hsf-tail-loop").toString
        val f = new HeliumFollower(spark,
          new RpcTxnSource(new JsonRpcClient(endpoint),
            maxRetries = 2, sleepMs = 0, sleep = _ => ()),
          s"$dir/sink", s"$dir/checkpoint.json", batchSize = 2L,
          receiptRetentionBlocks = Some(1L),
          inventoryHeight = () => Some(0L),
          onInventoryRefresh = () => (),
          inventoryLag = 1L)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/checkpoint.json"),
          """{"sync_cursor": 99}""")
        f.runToTip(103L)
        (partitions(s"$dir/sink/payments"), rows(s"$dir/sink/payments"))
    }
    // the final epoch's partition must be batch=103 (the committed
    // offset end) on BOTH paths, not the data max 102
    assert(sParts === lParts, "partition names diverged")
    assert(sParts.contains("batch=103"),
      s"empty-tail epoch not named by its offset end: $sParts")
    assert(sRows === lRows, "payment rows diverged")
  }

  test("whole-epoch block_get failure: the streamed path commits the " +
    "WAL-named empty partition, the driver loop commits nothing " +
    "(the documented commitBatch divergence)") {
    import graft.streaming.{HeliumFollower, HeliumStreamFollower}
    // tip advanced to 103 but block_get(103) permanently fails: with
    // 1-height epochs the final (102, 103] epoch's every block fails,
    // retry-then-skip yields an empty envelope
    def partitions(root: String): Seq[String] =
      Option(new java.io.File(root).list()).fold(Seq.empty[String])(
        _.filter(_.startsWith("batch=")).sorted.toSeq)
    val sParts = StubNode.withServer(prunedHeights = Set(103L)) {
      endpoint =>
        val dir = Files.createTempDirectory("hsf-pruned").toString
        val q = HeliumStreamFollower.writer(spark, endpoint,
          s"$dir/sink", s"$dir/ckpt", startHeight = 99L,
          maxHeightsPerTrigger = 1L, numPartitions = 2,
          maxRetries = 2, sleepMs = 0L).start()
        try q.processAllAvailable() finally q.stop()
        partitions(s"$dir/sink/payments")
    }
    // the engine committed (102, 103], so the epoch IS processed:
    // an empty batch=103 partition, never a silent gap
    assert(sParts.contains("batch=103"),
      s"WAL-committed failed epoch left no partition: $sParts")
    val lParts = StubNode.withServer(prunedHeights = Set(103L)) {
      endpoint =>
        val dir = Files.createTempDirectory("hsf-pruned-loop").toString
        val f = new HeliumFollower(spark,
          new RpcTxnSource(new JsonRpcClient(endpoint),
            maxRetries = 2, sleepMs = 0, sleep = _ => ()),
          s"$dir/sink", s"$dir/checkpoint.json", batchSize = 1L)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$dir/checkpoint.json"),
          """{"sync_cursor": 99}""")
        f.runToTip(103L)
        partitions(s"$dir/sink/payments")
    }
    // the driver loop stops short: no batch=103 — the divergence the
    // commitBatch scaladoc documents
    assert(!lParts.contains("batch=103"),
      s"driver loop unexpectedly committed the failed epoch: $lParts")
    assert(sParts.filterNot(_ == "batch=103") === lParts,
      "paths diverged beyond the documented empty-epoch case")
  }

  test("T4 through the stream reader: a flaky txn is retried, an " +
    "exhausted one skipped, row-parity with the batch source") {
    // tx2 succeeds on its 3rd try; tx3 never does within 3 retries
    StubNode.withServer(flaky = Map("tx2" -> 2, "tx3" -> 99)) { endpoint =>
      val ckpt = Files.createTempDirectory("hbs-ckpt-t4").toString
      val q = spark.readStream
        .format(classOf[HeliumBlockStreamProvider].getName)
        .option("endpoint", endpoint)
        .option("startHeight", "99")
        .option("numPartitions", "2")
        .option("maxRetries", "3").option("sleepMs", "0")
        .load()
        .writeStream.format("memory").queryName("helium_blocks_t4")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        val streamed = spark.sql("SELECT * FROM helium_blocks_t4")
        // the stream consumed tx2's failures, so the serial fetch sees
        // it succeed at once; tx3 still exhausts its retries
        val batch = new RpcTxnSource(new JsonRpcClient(endpoint),
          maxRetries = 3, sleepMs = 0, sleep = _ => ())
          .fetchRange(spark, 99L, 102L).get
        assert(envelopeRows(streamed) === envelopeRows(batch))
        val hashes = streamed.select("hash").collect().map(_.getString(0))
          .toSet
        assert(hashes.contains("tx2"), "flaky txn recovered by retry")
        assert(!hashes.contains("tx3"), "exhausted txn skipped, not fatal")
      } finally q.stop()
    }
  }

  test("uncapped: the whole backlog arrives in one micro-batch") {
    StubNode.withServer() { endpoint =>
      val ckpt = Files.createTempDirectory("hbs-ckpt2").toString
      val q = spark.readStream
        .format(classOf[HeliumBlockStreamProvider].getName)
        .option("endpoint", endpoint)
        .option("startHeight", "99")
        .option("maxRetries", "2").option("sleepMs", "0")
        .load()
        .writeStream.format("memory").queryName("helium_blocks_whole")
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try {
        q.processAllAvailable()
        assert(q.recentProgress.count(_.numInputRows > 0) === 1)
        val batch = new RpcTxnSource(new JsonRpcClient(endpoint),
          maxRetries = 2, sleepMs = 0, sleep = _ => ())
          .fetchRange(spark, 99L, 102L).get
        assert(envelopeRows(
          spark.sql("SELECT * FROM helium_blocks_whole"))
          === envelopeRows(batch))
      } finally q.stop()
    }
  }
}

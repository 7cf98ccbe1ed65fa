package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkFixture
import graft.model._

/** Structured Streaming behavior suite — SURVEY.md §2B T1–T8 plus the
  * custom DataSource V2 source/offset semantics (§2A rows 1,4,10) and
  * the stateful cursor gate (§2A-13 online).
  */
class StreamingTckSpec extends AnyFunSuite {

  private lazy val spark = SparkFixture.spark
  import spark.implicits._

  private def ts(minute: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:$sec%02d")

  private def msg(extId: String): Message = Message.simple("pk1", extId)

  import StreamingTckSpec._

  // ------------------------------------------------------------ source
  test("DSv2 source streams published messages; offset json is the cursor checkpoint format") {
    val logName = "t-src-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    new Producer(log, seed = 1).publish(msg("a"), msg("b"))

    val ckpt = Files.createTempDirectory("graft-ckpt").toString
    val stream = spark.readStream.format("graft-messages").option("log", logName).load()
    val seen = StreamingTckSpec.sink(logName)
    def start() = stream.writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.select("externalId").as[String](org.apache.spark.sql.Encoders.STRING)
          .collect().foreach(seen.add)
      }
      .option("checkpointLocation", ckpt).start()
    val q = start()
    q.processAllAvailable()
    new Producer(log, seed = 2).publish(msg("c"))
    q.processAllAvailable()
    assert(seen.toArray.toSeq == Seq("a", "b", "c"))
    // offsets in the checkpoint log use the reference's cursor JSON
    val last = q.lastProgress.sources.head.endOffset
    assert(last.contains("\"shardId\"") && last.contains("\"sequenceNumber\"")
      && last.contains("\"inclusive\""))
    q.stop()

    // restart from the same checkpoint: only NEW messages are read (T8)
    seen.clear()
    new Producer(log, seed = 3).publish(msg("d"), msg("e"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()
    assert(seen.toArray.toSeq == Seq("d", "e"))
  }

  test("source startingPosition: latest skips history; checkpoint json resumes; maxRecordsPerBatch paces") {
    val logName = "t-pos-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    new Producer(log, seed = 1).publish(msg("a"), msg("b"), msg("c"))

    // latest: nothing until new data arrives
    val qLatest = spark.readStream.format("graft-messages")
      .option("log", logName).option("startingPosition", "latest").load()
      .writeStream.format("memory").queryName("pos_latest")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    qLatest.processAllAvailable()
    new Producer(log, seed = 2).publish(msg("d"))
    qLatest.processAllAvailable()
    qLatest.stop()
    assert(spark.table("pos_latest").select("externalId").as[String].collect().toSeq == Seq("d"))

    // explicit cursor checkpoint: start after "a" (sequence 0, exclusive)
    val ck = Cursor.atSequence(log.shardId, "000000000000", inclusive = false).checkpoint
    val qCk = spark.readStream.format("graft-messages")
      .option("log", logName).option("startingPosition", ck)
      .option("maxRecordsPerBatch", "1").load()
      .writeStream.format("memory").queryName("pos_ck")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    qCk.processAllAvailable()
    qCk.stop()
    assert(spark.table("pos_ck").select("externalId").as[String].collect().toSeq
      == Seq("b", "c", "d"))
  }

  test("batch read of a shard log + distributed sink write round-trip") {
    val logName = "t-batch-" + System.nanoTime()
    val data = (1 to 50).map(i => Message.simple("pk" + (i % 4), "e" + i))
    spark.createDataset(data)(Message.encoder).repartition(4)
      .write.format("graft-messages").option("log", logName).mode("append").save()
    val back = spark.read.format("graft-messages").option("log", logName).load()
    assert(back.count() == 50)
    // every message got a ULID and a provider stamp at read
    assert(back.filter(col("ulid").isNull || col("provider").isNull).count() == 0)
    // per-partition ULID monotonicity -> within a partitionKey all ULIDs unique
    assert(back.select("ulid.msb", "ulid.lsb").distinct().count() == 50)
  }

  // ------------------------------------------------------------ T1, T4
  test("T1/T4: tumbling window agg with watermark drops late data in append mode") {
    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val agg = in.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("k"))
      .agg(count(lit(1)).as("n"), sum("v").as("s"))
      .select(col("window.start").as("ws"), col("k"), col("n"), col("s"))
    val q = agg.writeStream.format("memory").queryName("t1_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()

    in.addData((ts(0), "a", 1.0), (ts(2), "a", 2.0), (ts(4, 59), "b", 5.0))
    q.processAllAvailable()
    in.addData((ts(30), "a", 1.0)) // watermark -> 10:20: closes the 10:00 window
    q.processAllAvailable()
    in.addData((ts(1), "a", 100.0)) // LATE: before watermark, must be dropped
    q.processAllAvailable()
    in.addData((ts(59), "z", 0.0)) // push watermark past everything
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t1_out").orderBy("ws", "k")
      .select("ws", "k", "n", "s").collect().toSeq.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    // the late (10:01, a, 100.0) row is NOT in the 10:00 window
    assert(rows.contains((ts(0), "a", 2L, 3.0)))
    assert(rows.contains((ts(0), "b", 1L, 5.0)))
    assert(!rows.exists { case (_, k, _, s) => k == "a" && s == 103.0 })
  }

  // ---------------------------------------------------------------- T5
  test("T5: dropDuplicatesWithinWatermark dedups by event id") {
    val in = MemoryStream[(Timestamp, Long)](spark)
    val dedup = in.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream.format("memory").queryName("t5_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    in.addData((ts(0), 1L), (ts(1), 2L), (ts(1, 30), 1L))
    q.processAllAvailable()
    in.addData((ts(2), 2L), (ts(3), 3L))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("t5_out").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  // ---------------------------------------------------------------- T7
  test("T7: stream-static join enriches a message stream with a dimension table") {
    val logName = "t-join-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    new Producer(log, seed = 1).publish(
      msg("a").copy(attributes = Map("nation" -> "0")),
      msg("b").copy(attributes = Map("nation" -> "3")))
    val nation = graft.Tables(spark, SparkFixture.sfDir, "nation")
    val joined = spark.readStream.format("graft-messages").option("log", logName).load()
      .withColumn("nk", element_at(col("attributes"), "nation").cast("int"))
      .join(nation, col("nk") === col("n_nationkey"))
      .select("externalId", "n_name")
    val q = joined.writeStream.format("memory").queryName("t7_out")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t7_out").as[(String, String)].collect().toMap
    assert(got.keySet == Set("a", "b") && got.values.toSet.size == 2)
  }

  test("T7b: stream enrichment with an SCD2 dimension is point-in-time correct") {
    // The TableOps.scd2 output joined to a live stream on
    // key + [valid_from, valid_to) — the point-in-time lookup a
    // feature/metrics stream needs so late or replayed events pick the
    // dimension value that was CURRENT AT EVENT TIME, not today's.
    val logName = "t-scd2-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    def ts(ms: Long) = new java.sql.Timestamp(ms)
    // dimension history for entity "u1": status A from t=0, B from t=100
    val dim = graft.ops.TableOps.scd2(
      Seq(("u1", 0L, "A", 1L), ("u1", 50L, "A", 2L), ("u1", 100L, "B", 3L))
        .toDF("ent", "cts", "status", "cid"),
      key = "ent", tsCol = "cts", valueCol = "status", tieBreak = Seq("cid"))
    new Producer(log, seed = 1).publish(
      msg("early").copy(attributes = Map("ent" -> "u1"), timestamp = Some(ts(10))),
      msg("late").copy(attributes = Map("ent" -> "u1"), timestamp = Some(ts(150))))
    // event time arrives as a sub-second java.sql.Timestamp — recover
    // the raw millis for the interval compare
    val enriched = spark.readStream.format("graft-messages").option("log", logName).load()
      .select(col("externalId"), element_at(col("attributes"), "ent").as("sent"),
        (col("timestamp").cast("double") * 1000).cast("long").as("evt_ms"))
      .join(dim, col("sent") === dim("ent") &&
        col("evt_ms") >= col("valid_from") &&
        (col("valid_to").isNull || col("evt_ms") < col("valid_to")))
      .select("externalId", "status")
    val q = enriched.writeStream.format("memory").queryName("t7b_out")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t7b_out").as[(String, String)].collect().toMap
    // the t=10 event sees status A (the interval current THEN), the
    // t=150 event sees B; the collapsed no-change row at t=50 never
    // duplicates the early event
    assert(got == Map("early" -> "A", "late" -> "B"), s"got $got")
  }

  // ---------------------------------------------------------------- T6
  test("T6: CursorGate opens at the matching externalId and stays open") {
    val logName = "t-gate-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    new Producer(log, seed = 1).publish(msg("a"), msg("b"), msg("c"))
    val cursor = Cursor(log.shardId,
      StartingPoint.AtExternalId("b", 0L, toleranceMillis = Long.MaxValue / 4))
    val stream = spark.readStream.format("graft-messages").option("log", logName).load()
      .as[Message](Message.encoder)
    val gated = CursorGate(stream, cursor)
    val q = gated.writeStream.format("memory").queryName("t6_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    q.processAllAvailable()
    new Producer(log, seed = 2).publish(msg("d")) // arrives after gate opened
    q.processAllAvailable()
    q.stop()
    assert(spark.table("t6_out").select("externalId").as[String].collect().toSeq
      == Seq("b", "c", "d"))
  }

  // ---------------------------------------------------------------- T6b
  test("T6b: CursorGate on a multi-shard topic reads ONLY the cursor's shard") {
    // A cursor addresses one shard (per-shard GetShardIterator in the
    // reference); the gate must filter to it, not silently drop or leak
    // other shards.
    val topic = Topics.create("t-gate-multi-" + System.nanoTime(), 2)
    // pick two keys that land on different shards under hash-range routing
    val keys = (0 until 64).map("k" + _)
    val k1 = keys.find(k => topic.shardFor(k) == topic.shards(0)).get
    val k2 = keys.find(k => topic.shardFor(k) == topic.shards(1)).get
    val p = topic.producer(seed = 1)
    p.publish(Message.simple(k1, "a0"), Message.simple(k2, "b0"),
              Message.simple(k1, "a1"), Message.simple(k2, "b1"))
    val target = topic.shardFor(k1)
    val cursor = Cursor(target.shardId,
      StartingPoint.AtExternalId("a1", 0L, toleranceMillis = Long.MaxValue / 4))
    val stream = spark.readStream.format("graft-messages").option("topic", topic.name).load()
      .as[Message](Message.encoder)
    val gated = CursorGate(stream, cursor)
    val q = gated.writeStream.format("memory").queryName("t6b_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    q.processAllAvailable()
    p.publish(Message.simple(k1, "a2"), Message.simple(k2, "b2")) // after gate opened
    q.processAllAvailable()
    q.stop()
    assert(spark.table("t6b_out").select("externalId").as[String].collect().toSeq
      == Seq("a1", "a2")) // match + later target-shard rows; other shard excluded
  }

  // ---------------------------------------------------------------- T6c
  test("T6c: CursorGate no-match overshoot replays from the tolerance lower bound") {
    // Mirrors the reference's lookahead-replay fallback
    // (KinesisMessiStreamingConsumer.java:93-102, TCK no-match branches
    // MessiClientTck.java:302-384): the target ULID never appears; rows
    // inside the window buffer across micro-batches; the first row past
    // the upper bound opens the gate and the buffer is replayed.
    val logName = "t-gate-nomatch-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    val base = 1700000000000L
    def at(extId: String, tsMillis: Long): Message =
      msg(extId).copy(ulid = Some(Ulid(tsMillis, new java.util.Random(extId.hashCode.toLong))))
    val target = Ulid(base, new java.util.Random(12345L)) // never published
    val p = new Producer(log, seed = 1)
    p.publish(
      at("early", base - 1000),  // before the lower bound: dropped
      at("w1", base + 1000),     // in window: buffered
      at("w2", base + 30000))    // in window: buffered
    val cursor = Cursor(log.shardId,
      StartingPoint.AtUlid(target, inclusive = true, toleranceMillis = 60000L))
    val stream = spark.readStream.format("graft-messages").option("log", logName).load()
      .as[Message](Message.encoder)
    val q = CursorGate(stream, cursor)
      .writeStream.format("memory").queryName("t6c_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    q.processAllAvailable()
    assert(spark.table("t6c_out").isEmpty) // still scanning: buffer held in state
    p.publish(at("late", base + 61000)) // overshoots: open + replay buffer
    q.processAllAvailable()
    p.publish(at("after", base + 62000)) // gate already open
    q.processAllAvailable()
    q.stop()
    assert(spark.table("t6c_out").select("externalId").as[String].collect().toSeq
      == Seq("w1", "w2", "late", "after"))
  }

  // ---------------------------------------------------------------- T6d
  test("T6d: CursorGate discards the lookahead buffer when the match arrives late") {
    // Buffered pre-match rows are NOT emitted once the exact match is
    // found in a later micro-batch (buffer.clear() on match,
    // KinesisMessiStreamingConsumer.java:110-117).
    val logName = "t-gate-latematch-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    val base = 1700000000000L
    def at(extId: String, tsMillis: Long): Message =
      msg(extId).copy(ulid = Some(Ulid(tsMillis, new java.util.Random(extId.hashCode.toLong))))
    val p = new Producer(log, seed = 1)
    p.publish(at("w1", base + 1000), at("w2", base + 2000)) // in window, no match yet
    val cursor = Cursor(log.shardId,
      StartingPoint.AtExternalId("m", base, toleranceMillis = 60000L))
    val stream = spark.readStream.format("graft-messages").option("log", logName).load()
      .as[Message](Message.encoder)
    val q = CursorGate(stream, cursor)
      .writeStream.format("memory").queryName("t6d_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    q.processAllAvailable()
    assert(spark.table("t6d_out").isEmpty)
    p.publish(at("m", base + 3000), at("after", base + 4000))
    q.processAllAvailable()
    q.stop()
    assert(spark.table("t6d_out").select("externalId").as[String].collect().toSeq
      == Seq("m", "after")) // w1/w2 discarded: emission starts at the match
  }

  // ---------------------------------------------------------------- T6e
  test("T6e: CursorGate lookahead buffer survives a restart under RocksDB state") {
    // The gate's scale posture says its per-shard scan buffer lives in
    // the state store, so at 100 TB it is RocksDB-backed and restart-
    // durable. Prove both at once: run the T6c no-match scenario under
    // RocksDBStateStoreProvider with a query RESTART while rows are
    // still buffered (no output yet) — the overshoot row after the
    // restart must replay w1/w2 from RECOVERED RocksDB state, not JVM
    // memory. Memory sink can't recover a checkpoint, so output goes
    // through the static foreachBatch sink (the T8/T9c pattern).
    val logName = "t-gate-rocks-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    val base = 1700000000000L
    def at(extId: String, tsMillis: Long): Message =
      msg(extId).copy(ulid = Some(Ulid(tsMillis, new java.util.Random(extId.hashCode.toLong))))
    val target = Ulid(base, new java.util.Random(12345L)) // never published
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val p = new Producer(log, seed = 1)
      p.publish(
        at("early", base - 1000),  // before the lower bound: dropped
        at("w1", base + 1000),     // in window: buffered
        at("w2", base + 30000))    // in window: buffered
      val cursor = Cursor(log.shardId,
        StartingPoint.AtUlid(target, inclusive = true, toleranceMillis = 60000L))
      val ckpt = Files.createTempDirectory("g").toString
      val out = sink("t6e")
      out.clear()
      def start() = {
        val stream = spark.readStream.format("graft-messages").option("log", logName).load()
          .as[Message](Message.encoder)
        CursorGate(stream, cursor)
          .writeStream.outputMode("append")
          .foreachBatch { (df: org.apache.spark.sql.Dataset[Message], _: Long) =>
            df.select("externalId").collect().foreach(r => out.add(r.getString(0)))
          }
          .option("checkpointLocation", ckpt).start()
      }
      val q1 = start()
      q1.processAllAvailable()
      q1.stop()
      assert(out.isEmpty, "still scanning: buffer must be held in state, nothing emitted")
      val q2 = start()                     // restart: buffer recovered from RocksDB
      p.publish(at("late", base + 61000))  // overshoots: open + replay buffer
      q2.processAllAvailable()
      p.publish(at("after", base + 62000)) // gate already open
      q2.processAllAvailable()
      q2.stop()
      import scala.jdk.CollectionConverters._
      assert(out.asScala.toSeq == Seq("w1", "w2", "late", "after"),
        s"replay after restart must come from recovered state: ${out.asScala.toSeq}")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v)
                   case None    => spark.conf.unset(key) }
      ShardLog.remove(logName)
    }
  }

  // ------------------------------------------------- error recovery
  test("expired-iterator recovery: reader re-acquires from the cursor, task does not retry (2A-14)") {
    // Distinct class from throttle/generic (KinesisStreamingBuffer
    // .java:121-127): the reader re-acquires its position handle and
    // continues; local-mode maxFailures=1, so success proves the
    // recovery happened inside the source, not via Spark task retry.
    val logName = "t-expire-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    new Producer(log, seed = 1).publish(msg("a"), msg("b"), msg("c"))
    log.injectIteratorExpiry(2)
    val got = spark.read.format("graft-messages").option("log", logName)
      .option("pollIntervalMs", "10").load()
      .select("externalId").as[String](org.apache.spark.sql.Encoders.STRING)
      .collect().toSet
    assert(got == Set("a", "b", "c"))
    assert(log.iteratorReacquisitions.get() == 2,
      s"expected 2 re-acquisitions, got ${log.iteratorReacquisitions.get()}")
  }

  test("a permanent iterator-expiry loop fails after the consecutive-expiry cap, not never") {
    // reacquire() that can never refresh the handle (shard closed) must
    // surface as a failure instead of spinning forever once per poll
    // tick (ADVICE r4). Injected expiries outnumber the cap; readWithRetry
    // is driven directly so the 100 ticks run at pollIntervalMs=0.
    val logName = "t-expire-forever-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    try {
      new Producer(log, seed = 1).publish(msg("a"))
      log.injectIteratorExpiry(1000)
      val e = intercept[IllegalStateException] {
        ReadRetry.readWithRetry(log, 0L, limit = 10, pollIntervalMs = 0L)
      }
      assert(e.getMessage.contains("expired 100 times in a row"))
      // a successful read in between resets the budget: inject just under
      // the cap twice over — both reads recover
      log.injectIteratorExpiry(99)
      assert(ReadRetry.readWithRetry(log, 0L, limit = 10, pollIntervalMs = 0L).nonEmpty)
      log.injectIteratorExpiry(99)
      assert(ReadRetry.readWithRetry(log, 0L, limit = 10, pollIntervalMs = 0L).nonEmpty)
    } finally ShardLog.remove(logName)
  }

  test("read-side recovery: throttles and generic errors absorbed with backoff (2A-14..16)") {
    val logName = "t-retry-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    new Producer(log, seed = 1).publish(msg("a"), msg("b"), msg("c"))
    def readAll(): Set[String] =
      spark.read.format("graft-messages").option("log", logName)
        .option("pollIntervalMs", "10").load()
        .select("externalId").as[String](org.apache.spark.sql.Encoders.STRING)
        .collect().toSet
    log.injectReadFailures(2) // throttle: 3x poll-interval backoff, then retry
    assert(readAll() == Set("a", "b", "c"))
    log.injectReadFailures(1, generic = true) // generic: 1x backoff, then retry
    assert(readAll() == Set("a", "b", "c"))
  }

  // ------------------------------------------------------- ReadLimit
  test("latestOffset honors the engine-supplied ReadLimit, including composites") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val logName = "t-limit-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    new Producer(log, seed = 1).publish((0 until 9).map(i => msg("e" + i)): _*)
    val stream = new MessageMicroBatchStream(Seq(logName), None, maxPerBatch = 1000)
    val start = stream.initialOffset()
    def endIdx(limit: ReadLimit): Long =
      stream.latestOffset(start, limit).asInstanceOf[TopicOffset].offsets.head.nextIndex
    assert(endIdx(ReadLimit.maxRows(4L)) == 4L) // engine limit wins over maxPerBatch
    assert(endIdx(ReadLimit.allAvailable()) == 9L)
    assert(endIdx(ReadLimit.compositeLimit(
      Array(ReadLimit.allAvailable(), ReadLimit.maxRows(3L)))) == 3L) // tightest row cap
  }

  // ---------------------------------------------------------------- T9 continuous
  test("T9: Trigger.Continuous streams records without micro-batch boundaries") {
    val srcName = "t-cont-src-" + System.nanoTime()
    val dstName = "t-cont-dst-" + System.nanoTime()
    val src = ShardLog.getOrCreate(srcName)
    ShardLog.getOrCreate(dstName)
    new Producer(src, seed = 1).publish(msg("a"), msg("b"), msg("c"))
    val q = spark.readStream.format("graft-messages")
      .option("log", srcName).option("pollIntervalMs", "50").load()
      .writeStream.format("graft-messages").option("log", dstName)
      .option("checkpointLocation", Files.createTempDirectory("g").toString)
      .trigger(Trigger.Continuous("200 milliseconds"))
      .start()
    def awaitCount(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (ShardLog.getOrCreate(dstName).size < n && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(ShardLog.getOrCreate(dstName).size >= n,
        s"continuous sink saw ${ShardLog.getOrCreate(dstName).size}/$n records")
    }
    awaitCount(3)
    new Producer(src, seed = 2).publish(msg("d")) // lands mid-epoch, no restart
    awaitCount(4)
    q.stop()
    val got = ShardLog.getOrCreate(dstName)
      .read(0L, Int.MaxValue).flatMap(_.externalId)
    assert(got.take(4) == Seq("a", "b", "c", "d"))
  }

  // ---------------------------------------------------------------- T9b
  test("T9b: continuous mode over a multi-shard topic merges per-shard offsets") {
    val topic = Topics.create("t-cont-multi-" + System.nanoTime(), 2)
    val keys = (0 until 64).map("k" + _)
    val k1 = keys.find(k => topic.shardFor(k) == topic.shards(0)).get
    val k2 = keys.find(k => topic.shardFor(k) == topic.shards(1)).get
    val dstName = "t-cont-multi-dst-" + System.nanoTime()
    ShardLog.getOrCreate(dstName)
    val p = topic.producer(seed = 1)
    p.publish(Message.simple(k1, "a0"), Message.simple(k2, "b0"),
              Message.simple(k1, "a1"))
    val q = spark.readStream.format("graft-messages")
      .option("topic", topic.name).option("pollIntervalMs", "50").load()
      .writeStream.format("graft-messages").option("log", dstName)
      .option("checkpointLocation", Files.createTempDirectory("g").toString)
      .trigger(Trigger.Continuous("200 milliseconds"))
      .start()
    def awaitCount(n: Int): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (ShardLog.getOrCreate(dstName).size < n && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      assert(ShardLog.getOrCreate(dstName).size >= n,
        s"saw ${ShardLog.getOrCreate(dstName).size}/$n")
    }
    awaitCount(3)
    p.publish(Message.simple(k2, "b1"))
    awaitCount(4)
    q.stop()
    val got = ShardLog.getOrCreate(dstName)
      .read(0L, Int.MaxValue).flatMap(_.externalId).toSet
    assert(got == Set("a0", "a1", "b0", "b1"))
  }

  // ---------------------------------------------------------------- T9c
  test("T9c: continuous query restarts from its checkpoint (at-least-once)") {
    val srcName = "t-cont-ck-src-" + System.nanoTime()
    val dstName = "t-cont-ck-dst-" + System.nanoTime()
    val src = ShardLog.getOrCreate(srcName)
    ShardLog.getOrCreate(dstName)
    val ckpt = Files.createTempDirectory("g").toString
    def start() = spark.readStream.format("graft-messages")
      .option("log", srcName).option("pollIntervalMs", "50").load()
      .writeStream.format("graft-messages").option("log", dstName)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.Continuous("200 milliseconds"))
      .start()
    def awaitIds(want: Set[String]): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      def ids() = ShardLog.getOrCreate(dstName)
        .read(0L, Int.MaxValue).flatMap(_.externalId).toSet
      while (!want.subsetOf(ids()) && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(want.subsetOf(ids()), s"missing ${want -- ids()}")
    }
    new Producer(src, seed = 1).publish(msg("a"), msg("b"))
    val q1 = start()
    awaitIds(Set("a", "b"))
    q1.stop()
    new Producer(src, seed = 2).publish(msg("c"), msg("d")) // while down
    val q2 = start()
    awaitIds(Set("a", "b", "c", "d")) // resumed; re-delivery allowed (at-least-once)
    q2.stop()
  }

  // ---------------------------------------------------------------- T10
  test("T10: stream-stream interval join matches clicks to impressions within 5 minutes") {
    val imps = MemoryStream[(Timestamp, Long)](spark)
    val clks = MemoryStream[(Timestamp, Long)](spark)
    val joined = imps.toDF().toDF("its", "imp_id").withWatermark("its", "10 minutes")
      .join(
        clks.toDF().toDF("cts", "clk_imp").withWatermark("cts", "10 minutes"),
        expr("imp_id = clk_imp AND cts BETWEEN its AND its + interval 5 minutes"))
      .select("imp_id", "its", "cts")
    val q = joined.writeStream.format("memory").queryName("t10_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    imps.addData((ts(0), 1L), (ts(1), 2L), (ts(2), 3L))
    clks.addData((ts(3), 1L))  // 3 min after imp 1 -> match
    clks.addData((ts(9), 2L))  // 8 min after imp 2 -> outside interval, no match
    q.processAllAvailable()
    clks.addData((ts(4), 3L))  // 2 min after imp 3 -> match
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t10_out").select("imp_id").as[Long].collect().sorted.toSeq
    assert(got == Seq(1L, 3L))
  }

  test("T10b: LEFT OUTER stream-stream join emits unmatched rows after watermark expiry") {
    // The state-expiry semantic the inner join never exercises: an
    // impression with no click inside its interval must surface WITH
    // NULL click columns — but only once the watermark proves no
    // matching click can still arrive. Matched rows emit immediately;
    // the unmatched row emits on a later trigger after the watermark
    // passes its interval end.
    val imps = MemoryStream[(Timestamp, Long)](spark)
    val clks = MemoryStream[(Timestamp, Long)](spark)
    val joined = imps.toDF().toDF("its", "imp_id").withWatermark("its", "2 minutes")
      .join(
        clks.toDF().toDF("cts", "clk_imp").withWatermark("cts", "2 minutes"),
        expr("imp_id = clk_imp AND cts BETWEEN its AND its + interval 5 minutes"),
        "leftOuter")
      .select("imp_id", "its", "cts")
    val q = joined.writeStream.format("memory").queryName("t10b_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    imps.addData((ts(0), 1L), (ts(0), 2L))
    clks.addData((ts(3), 1L)) // inside imp 1's interval -> inner match
    q.processAllAvailable()
    // advance BOTH watermarks far past imp 2's interval end (t=5) +
    // delay (2): t=30 makes the engine certain imp 2 is unmatched
    imps.addData((ts(30), 99L))
    clks.addData((ts(30), 98L))
    q.processAllAvailable()
    imps.addData((ts(31), 97L)) // one more trigger to flush expired state
    clks.addData((ts(31), 96L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t10b_out")
      .select("imp_id", "cts").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toMap
    assert(rows(1L).isDefined, "matched impression must carry its click time")
    assert(rows.contains(2L) && rows(2L).isEmpty,
      s"unmatched impression must emit with NULL click after expiry: $rows")
  }

  // ---------------------------------------------------------------- T15
  test("T15: FULL OUTER stream-stream join expires state on BOTH sides") {
    // T10b exercises one-sided expiry; full-outer is the only shape
    // where BOTH state stores must prove-and-release: an impression
    // with no click emits (imp, NULL click), an orphan click emits
    // (NULL imp, click) — each only after the opposite watermark
    // passes its interval, and the matched pair exactly once.
    val imps = MemoryStream[(Timestamp, Long)](spark)
    val clks = MemoryStream[(Timestamp, Long)](spark)
    val joined = imps.toDF().toDF("its", "imp_id").withWatermark("its", "2 minutes")
      .join(
        clks.toDF().toDF("cts", "clk_imp").withWatermark("cts", "2 minutes"),
        expr("imp_id = clk_imp AND cts BETWEEN its AND its + interval 5 minutes"),
        "fullOuter")
      .select("imp_id", "its", "clk_imp", "cts")
    val q = joined.writeStream.format("memory").queryName("t15_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    imps.addData((ts(0), 1L), (ts(0), 2L)) // 1 will match; 2 never
    clks.addData((ts(3), 1L))              // inside imp 1's interval
    clks.addData((ts(4), 77L))             // orphan: no impression 77
    q.processAllAvailable()
    // watermark far past every interval end (+delay) on BOTH inputs,
    // then one more trigger to flush the expired state
    imps.addData((ts(30), 99L)); clks.addData((ts(30), 99L))
    q.processAllAvailable()
    imps.addData((ts(31), 98L)); clks.addData((ts(31), 98L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t15_out")
      .select("imp_id", "clk_imp")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    val matched = rows.filter(r => r._1.contains(1L))
    assert(matched.length == 1 && matched.head._2.contains(1L),
      s"impression 1 must match its click exactly once: ${rows.toSeq}")
    assert(rows.exists(r => r._1.contains(2L) && r._2.isEmpty),
      s"unmatched impression must emit with NULL click side: ${rows.toSeq}")
    assert(rows.exists(r => r._1.isEmpty && r._2.contains(77L)),
      s"orphan click must emit with NULL impression side: ${rows.toSeq}")
  }

  test("T15b: LEFT SEMI stream-stream join emits match-only, once, across micro-batches") {
    // the dedup-matching shape: a left row surfaces exactly ONCE when
    // some right match exists in its interval — a second matching
    // click in a LATER micro-batch must not re-emit it, and an
    // unmatched impression never appears even after expiry.
    val imps = MemoryStream[(Timestamp, Long)](spark)
    val clks = MemoryStream[(Timestamp, Long)](spark)
    val joined = imps.toDF().toDF("its", "imp_id").withWatermark("its", "2 minutes")
      .join(
        clks.toDF().toDF("cts", "clk_imp").withWatermark("cts", "2 minutes"),
        expr("imp_id = clk_imp AND cts BETWEEN its AND its + interval 5 minutes"),
        "leftSemi")
      .select("imp_id", "its")
    val q = joined.writeStream.format("memory").queryName("t15b_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    imps.addData((ts(0), 1L), (ts(0), 2L))
    clks.addData((ts(1), 1L)) // first match -> emit imp 1
    q.processAllAvailable()
    clks.addData((ts(3), 1L)) // second match, later batch -> must NOT re-emit
    q.processAllAvailable()
    imps.addData((ts(30), 99L)); clks.addData((ts(30), 99L)) // expire imp 2's state
    q.processAllAvailable()
    imps.addData((ts(31), 98L)); clks.addData((ts(31), 98L))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t15b_out").select("imp_id").as[Long].collect().toSeq
    assert(got.count(_ == 1L) == 1,
      s"semi join must emit impression 1 exactly once: $got")
    assert(!got.contains(2L), s"unmatched impression leaked through semi join: $got")
  }

  // ---------------------------------------------------------------- T2/T3 streaming-mode
  test("T2/T3: sliding and session windows run in streaming mode") {
    val in = MemoryStream[(Timestamp, Long)](spark)
    val sliding = in.toDF().toDF("ts", "uid")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "5 minutes", "1 minute"))
      .agg(count(lit(1)).as("n"))
    val q1 = sliding.writeStream.format("memory").queryName("t2_out").outputMode("complete").start()
    in.addData((ts(0), 1L), (ts(2), 1L))
    q1.processAllAvailable()
    assert(spark.table("t2_out").count() >= 5) // each event lands in 5 sliding windows
    q1.stop()

    val in3 = MemoryStream[(Timestamp, Long)](spark)
    val sessions = in3.toDF().toDF("ts", "uid")
      .withWatermark("ts", "1 minute")
      .groupBy(session_window(col("ts"), "30 minutes"), col("uid"))
      .agg(count(lit(1)).as("n"))
    val q3 = sessions.writeStream.format("memory").queryName("t3_out").outputMode("complete").start()
    in3.addData((ts(0), 1L), (ts(10), 1L), (ts(59), 1L)) // gap > 30m -> 2 sessions
    q3.processAllAvailable()
    assert(spark.table("t3_out").count() == 2)
    q3.stop()
  }

  test("T3b: session windows with a DYNAMIC per-event gap") {
    // session_window accepts a gap EXPRESSION: purchases hold sessions
    // open 30 minutes, other events only 5 — the per-row gap the fixed
    // T3 form can't express. Events at t=0 ('view') and t=10 fall in
    // ONE session only if the first gap is the long one.
    val in = MemoryStream[(Timestamp, Long, String)](spark)
    val sessions = in.toDF().toDF("ts", "uid", "etype")
      .withWatermark("ts", "1 minute")
      .groupBy(
        session_window(col("ts"),
          when(col("etype") === "purchase", "30 minutes").otherwise("5 minutes")),
        col("uid"))
      .agg(count(lit(1)).as("n"))
    val q = sessions.writeStream.format("memory").queryName("t3b_out")
      .outputMode("complete").start()
    // uid 1: view at 0 (5m gap) then event at 10 -> gap closed -> 2 sessions
    // uid 2: purchase at 0 (30m gap) then event at 10 -> same session
    in.addData((ts(0), 1L, "view"), (ts(10), 1L, "view"),
               (ts(0), 2L, "purchase"), (ts(10), 2L, "view"))
    q.processAllAvailable()
    val perUid = spark.table("t3b_out").groupBy("uid").count()
      .as[(Long, Long)].collect().toMap
    q.stop()
    assert(perUid(1L) == 2L, s"short gap must split uid 1: $perUid")
    assert(perUid(2L) == 1L, s"long purchase gap must hold uid 2 open: $perUid")
  }

  test("S2-streaming: parquet file sink is exactly-once across a restart") {
    // The streaming file sink commits files through the checkpoint's
    // manifest: restarting the query against the SAME checkpoint and
    // output dir must not duplicate already-committed batches, and a
    // batch read of the directory sees each record exactly once.
    val in = MemoryStream[(Long, String)](spark)
    val out = Files.createTempDirectory("fsink-out").toString
    val ck = Files.createTempDirectory("fsink-ck").toString
    def start() = in.toDF().toDF("id", "payload")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ck).start()
    val q1 = start()
    in.addData((1L, "a"), (2L, "b"))
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from the same checkpoint
    in.addData((3L, "c"))
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(out).as[(Long, String)].collect().sorted.toSeq
    assert(got == Seq((1L, "a"), (2L, "b"), (3L, "c")),
      s"file sink must be exactly-once across restart: $got")
  }

  test("T13: streaming MERGE via foreachBatch maintains a silver table, idempotent across restart") {
    // The streaming-lakehouse bridge: change batches arrive on a
    // stream and foreachBatch applies TableOps.upsert against the
    // latest SILVER SNAPSHOT, writing the merged state to a versioned
    // snapshot dir keyed by batchId — the poor-man's Delta commit.
    // Exactly-once falls out of IDEMPOTENCE, not coordination: a
    // replayed batch re-merges the same updates against the same
    // predecessor snapshot and overwrites its own version dir with
    // identical bytes, so a restart straddling an uncommitted batch
    // converges to the same table.
    val root = Files.createTempDirectory("silver").toString
    val ck = Files.createTempDirectory("silver-ck").toString
    // v=0 seed snapshot: the initial silver table
    Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "ts")
      .write.parquet(s"$root/v=0")
    val in = MemoryStream[(Long, String, Long)](spark)
    def latestVersion(): Long =
      new java.io.File(root).listFiles().filter(_.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).max
    def start() = in.toDF().toDF("k", "v", "ts")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/v=$v")
          .find(d => new java.io.File(d).exists())
          .getOrElse(s"$root/v=0")
        val base = sp.read.parquet(prior)
        graft.ops.TableOps.upsert(base, batch, keys = Seq("k"))
          .coalesce(1)
          .write.mode("overwrite").parquet(s"$root/v=${id + 1}")
      }.start()
    val q1 = start()
    in.addData((2L, "b2", 1L), (3L, "c", 1L)) // update k=2, insert k=3
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from the same checkpoint
    in.addData((1L, "a2", 2L)) // update k=1
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(s"$root/v=${latestVersion()}")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, "a2", 2L), (2L, "b2", 1L), (3L, "c", 1L)),
      s"silver table after streamed merges: $got")
    // idempotence: re-merging batch 0's data against v=0 reproduces
    // v=1 exactly (the replay-safety the commit scheme rests on)
    val replay = graft.ops.TableOps.upsert(
      spark.read.parquet(s"$root/v=0"),
      Seq((2L, "b2", 1L), (3L, "c", 1L)).toDF("k", "v", "ts"), Seq("k"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    val v1 = spark.read.parquet(s"$root/v=1")
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(replay == v1, s"replayed merge diverged: $replay vs $v1")
  }

  // ---------------------------------------------------------------- T16
  test("T16: streaming DIFFERENTIAL join-view maintenance — signed batches with deletes, idempotent across restart") {
    // T13 proves insert-only streaming MERGE; this runs the q110
    // Z-set algebra IN-STREAM: change batches carry inserts AND
    // deletes for BOTH join sides (side tag + signed _mult), and
    // foreachBatch applies TableOps.maintainJoinCounted against the
    // latest versioned snapshot triple (a, b, view), writing version
    // id+1 — the T13 commit scheme. Exactly-once falls out of
    // idempotence: a replayed signed batch re-derives the same
    // version from the same predecessor, deletes included (the case
    // insert-only MERGE never exercises — a double-APPLIED delete
    // would underflow the multiplicity, a replayed one must not).
    val root = Files.createTempDirectory("diffview").toString
    val ck = Files.createTempDirectory("diffview-ck").toString
    // v=0 seed: A = {1->a1, 2->a2}, B = {1->[10,11], 2->[20]},
    // view = consolidated A⋈B with multiplicities
    Seq((1L, "a1", 1L), (2L, "a2", 1L)).toDF("k", "av", "_mult")
      .write.parquet(s"$root/v=0/a")
    Seq((1L, 10, 1L), (1L, 11, 1L), (2L, 20, 1L)).toDF("k", "bv", "_mult")
      .write.parquet(s"$root/v=0/b")
    locally {
      val sp = spark
      val a0 = sp.read.parquet(s"$root/v=0/a").withColumnRenamed("_mult", "_ml")
      val b0 = sp.read.parquet(s"$root/v=0/b").withColumnRenamed("_mult", "_mr")
      graft.ops.TableOps.consolidate(
        a0.join(b0, Seq("k")).select(col("k"), col("av"), col("bv"),
          (col("_ml") * col("_mr")).as("_mult")),
        Seq("k", "av", "bv"))
        .write.parquet(s"$root/v=0/view")
    }
    val in = MemoryStream[(String, Long, String, Int, Long)](spark)
    def latestVersion(): Long =
      new java.io.File(root).listFiles().filter(_.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).max
    def start() = in.toDF().toDF("side", "k", "av", "bv", "_mult")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/v=$v")
          .find(d => new java.io.File(d).exists())
          .getOrElse(s"$root/v=0")
        val a = sp.read.parquet(s"$prior/a")
        val b = sp.read.parquet(s"$prior/b")
        val view = sp.read.parquet(s"$prior/view")
        val da = batch.filter(col("side") === "a").select("k", "av", "_mult")
        val db = batch.filter(col("side") === "b").select("k", "bv", "_mult")
        val out = s"$root/v=${id + 1}"
        graft.ops.TableOps.maintainJoinCounted(view, a, da, b, db, Seq("k"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/view")
        graft.ops.TableOps.consolidate(a.unionByName(da), Seq("k", "av"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/a")
        graft.ops.TableOps.consolidate(b.unionByName(db), Seq("k", "bv"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/b")
      }.start()
    val q1 = start()
    // batch 0: insert A key 3, insert B key 3, DELETE one of key 1's B rows
    in.addData(("a", 3L, "a3", 0, 1L), ("b", 3L, "", 30, 1L),
      ("b", 1L, "", 11, -1L))
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from the same checkpoint
    // batch 1: DELETE A key 1 entirely (kills its remaining view row),
    // insert a second B row for key 2 (fan-out grows)
    in.addData(("a", 1L, "a1", 0, -1L), ("b", 2L, "", 21, 1L))
    q2.processAllAvailable(); q2.stop()
    val vN = latestVersion()
    def viewSet(dir: String): Set[(Long, String, Int, Long)] =
      spark.read.parquet(dir).as[(Long, String, Int, Long)].collect().toSet
    val got = viewSet(s"$root/v=$vN/view")
    // final snapshots: A = {2->a2, 3->a3}; B = {1->10, 2->[20,21], 3->30}
    val want = Set((2L, "a2", 20, 1L), (2L, "a2", 21, 1L), (3L, "a3", 30, 1L))
    assert(got == want, s"maintained view after streamed deltas: $got vs $want")
    // maintained == recomputed from the final snapshots (the q110 gate)
    val aF = spark.read.parquet(s"$root/v=$vN/a").withColumnRenamed("_mult", "_ml")
    val bF = spark.read.parquet(s"$root/v=$vN/b").withColumnRenamed("_mult", "_mr")
    val recomputed = graft.ops.TableOps.consolidate(
      aF.join(bF, Seq("k")).select(col("k"), col("av"), col("bv"),
        (col("_ml") * col("_mr")).as("_mult")),
      Seq("k", "av", "bv")).as[(Long, String, Int, Long)].collect().toSet
    assert(got == recomputed, s"maintained diverged from recompute: $got vs $recomputed")
    // replay safety WITH a delete: re-applying batch 1's signed rows
    // against v=1 reproduces v=2 exactly — the delete does not
    // double-apply
    val a1 = spark.read.parquet(s"$root/v=1/a")
    val b1 = spark.read.parquet(s"$root/v=1/b")
    val view1 = spark.read.parquet(s"$root/v=1/view")
    val da1 = Seq((1L, "a1", -1L)).toDF("k", "av", "_mult")
    val db1 = Seq((2L, 21, 1L)).toDF("k", "bv", "_mult")
    val replayed = graft.ops.TableOps
      .maintainJoinCounted(view1, a1, da1, b1, db1, Seq("k"))
      .as[(Long, String, Int, Long)].collect().toSet
    val v2 = viewSet(s"$root/v=2/view")
    assert(replayed == v2, s"replayed delete batch diverged: $replayed vs $v2")
  }

  // ---------------------------------------------------------------- T17
  test("T17: streaming counted AGGREGATE-view maintenance — deletes update sums, emptied groups vanish, restart-safe") {
    // T16's discipline for the AGGREGATE family: signed batches feed
    // TableOps.maintainAggCounted against versioned view snapshots —
    // per key the view carries (sum_v, cnt) and a group whose count
    // reaches zero disappears from its version.
    val root = Files.createTempDirectory("aggview").toString
    val ck = Files.createTempDirectory("aggview-ck").toString
    Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "sum_v")
      .groupBy("k").agg(sum("sum_v").as("sum_v"), count(lit(1)).as("cnt"))
      .write.parquet(s"$root/v=0")
    val in = MemoryStream[(Long, Long, Long)](spark)
    def latestVersion(): Long =
      new java.io.File(root).listFiles().filter(_.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).max
    def start() = in.toDF().toDF("k", "sum_v", "_mult")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/v=$v")
          .find(d => new java.io.File(d).exists())
          .getOrElse(s"$root/v=0")
        graft.ops.TableOps.maintainAggCounted(
            sp.read.parquet(prior), batch, Seq("k"), Seq("sum_v"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/v=${id + 1}")
      }.start()
    val q1 = start()
    in.addData((1L, 10L, -1L), (3L, 7L, 1L)) // shrink key 1, insert key 3
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from the same checkpoint
    in.addData((2L, 5L, -1L), (3L, 3L, 1L)) // EMPTY key 2, grow key 3
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(s"$root/v=${latestVersion()}")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 20L, 1L), (3L, 10L, 2L)),
      s"maintained aggregate view after streamed deltas: $got")
    // replaying batch 1 (with its delete) against v=1 reproduces v=2
    val replayed = graft.ops.TableOps.maintainAggCounted(
        spark.read.parquet(s"$root/v=1"),
        Seq((2L, 5L, -1L), (3L, 3L, 1L)).toDF("k", "sum_v", "_mult"),
        Seq("k"), Seq("sum_v"))
      .as[(Long, Long, Long)].collect().toSet
    val v2 = spark.read.parquet(s"$root/v=2")
      .as[(Long, Long, Long)].collect().toSet
    assert(replayed == v2, s"replayed delete batch diverged: $replayed vs $v2")
  }

  // ---------------------------------------------------------------- T18
  test("T18: streaming zone-map maintenance — envelopes track appends across restart; drift trips the recluster trigger") {
    // the envelope member of the incremental-view family in-stream
    // (T13 upsert, T16 join, T17 aggregate, zone maps here): each
    // batch's per-chunk min/max merges into the maintained envelopes
    // via TableOps.maintainZoneMap (insert-only, its contract), and
    // once the streamed appends have widened the envelopes the
    // MEASURED clustering depth crosses the threshold — the
    // Layout.reclusterIfDeep trigger fires off the maintained view,
    // closing the q103 -> q109 -> OPTIMIZE loop end to end.
    val root = Files.createTempDirectory("zmview").toString
    val ck = Files.createTempDirectory("zmview-ck").toString
    // v=0: three tight disjoint chunk envelopes (depth 1 everywhere)
    Seq((0L, 0L, 9L), (1L, 10L, 19L), (2L, 20L, 29L))
      .toDF("chunk", "mn", "mx").write.parquet(s"$root/v=0")
    val in = MemoryStream[(Long, Long)](spark) // appended (chunk, value) rows
    def latestVersion(): Long =
      new java.io.File(root).listFiles().filter(_.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).max
    def start() = in.toDF().toDF("chunk", "v")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/v=$v")
          .find(d => new java.io.File(d).exists())
          .getOrElse(s"$root/v=0")
        val delta = batch.groupBy("chunk")
          .agg(min("v").as("mn"), max("v").as("mx"))
        graft.ops.TableOps.maintainZoneMap(sp.read.parquet(prior), delta,
            Seq("chunk"), Seq("mn"), Seq("mx"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/v=${id + 1}")
      }.start()
    val q1 = start()
    in.addData((0L, 25L)) // chunk 0 stretches into chunk 2's key range
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from the same checkpoint
    in.addData((1L, 28L), (3L, 5L)) // chunk 1 stretches; NEW chunk 3
    q2.processAllAvailable(); q2.stop()
    val vN = latestVersion()
    def envs(dir: String): Set[(Long, Long, Long)] =
      spark.read.parquet(dir).as[(Long, Long, Long)].collect().toSet
    val got = envs(s"$root/v=$vN")
    val want = Set((0L, 0L, 25L), (1L, 10L, 28L), (2L, 20L, 29L), (3L, 5L, 5L))
    assert(got == want, s"maintained envelopes after streamed appends: $got")
    // replaying batch 1 against v=1 reproduces v=2 (idempotence)
    val replayed = graft.ops.TableOps.maintainZoneMap(
        spark.read.parquet(s"$root/v=1"),
        Seq((1L, 28L, 28L), (3L, 5L, 5L)).toDF("chunk", "mn", "mx"),
        Seq("chunk"), Seq("mn"), Seq("mx"))
      .as[(Long, Long, Long)].collect().toSet
    assert(replayed == envs(s"$root/v=2"),
      s"replayed envelope batch diverged: $replayed")
    // the drifted envelopes now overlap 3-deep ([0,25]⊃[10,28]⊃[20,29]
    // starts) — the maintained view itself trips the recluster trigger
    val zones = spark.read.parquet(s"$root/v=$vN")
    val tbl = Seq((0, 0)).toDF("x", "y") // stand-in table for the rewrite arm
    val (_, fired) = graft.ops.Layout.reclusterIfDeep(tbl, zones,
      "mn", "mx", maxDepthThreshold = 2, "x", "y", numFiles = 2)
    assert(fired, "drifted maintained envelopes must trip the recluster trigger")
    // and the v=0 envelopes (depth 1) must NOT
    val (_, fired0) = graft.ops.Layout.reclusterIfDeep(tbl,
      spark.read.parquet(s"$root/v=0"), "mn", "mx",
      maxDepthThreshold = 2, "x", "y", numFiles = 2)
    assert(!fired0, "tight envelopes must not trigger")
  }

  // ---------------------------------------------------------------- T19
  test("T19: streaming ANN index maintenance — arriving vectors link into the frozen adjacency, restart-safe") {
    // the l3_ann_hnsw_incremental semantics in-stream: each batch of
    // arriving vectors scores ONLY batch-vs-stored (batch broadcast,
    // corpus streams), links top-1 into the frozen adjacency
    // (symmetrized — HNSW bidirectional insertion), and commits a
    // versioned (vectors, adj) snapshot pair keyed by batchId — the
    // T13 scheme, so a replayed batch re-derives its version
    // identically across a checkpoint restart.
    val root = Files.createTempDirectory("annview").toString
    val ck = Files.createTempDirectory("annview-ck").toString
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)),
        (2L, Seq(0.0, 1.0)), (3L, Seq(0.1, 0.9)))
      .toDF("vid", "emb").write.parquet(s"$root/v=0/vectors")
    Seq((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L)).toDF("a", "b")
      .write.parquet(s"$root/v=0/adj")
    val in = MemoryStream[(Long, Seq[Double])](spark)
    def latestVersion(): Long =
      new java.io.File(root).listFiles().filter(_.getName.startsWith("v="))
        .map(_.getName.stripPrefix("v=").toLong).max
    def start() = in.toDF().toDF("vid", "emb")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/v=$v")
          .find(d => new java.io.File(d).exists())
          .getOrElse(s"$root/v=0")
        val stored = sp.read.parquet(s"$prior/vectors")
        val adj = sp.read.parquet(s"$prior/adj")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy(col("sim").desc, col("vid").asc)
        val links = stored.select(col("vid"), col("emb").as("ve"))
          .crossJoin(broadcast(batch
            .select(col("vid").as("qid"), col("emb").as("qe"))))
          .select(col("qid"), col("vid"),
            expr("aggregate(zip_with(qe, ve, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
              .as("sim"))
          .withColumn("rn", row_number().over(w)).filter(col("rn") <= 1)
          .select(col("qid").as("a"), col("vid").as("b"))
        val out = s"$root/v=${id + 1}"
        adj.unionByName(links)
          .unionByName(links.select(col("b").as("a"), col("a").as("b")))
          .distinct()
          .coalesce(1).write.mode("overwrite").parquet(s"$out/adj")
        stored.unionByName(batch.toDF("vid", "emb"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/vectors")
      }.start()
    val q1 = start()
    in.addData((10L, Seq(0.95, 0.05))) // nearest stored: 0
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from the same checkpoint
    // nearest stored to 11 is 2 — NOT the earlier-arrived 10 (its dot
    // is 0.095): the frozen index grows with each committed batch
    in.addData((11L, Seq(0.05, 0.95)))
    q2.processAllAvailable(); q2.stop()
    val vN = latestVersion()
    def adjSet(dir: String): Set[(Long, Long)] =
      spark.read.parquet(dir).as[(Long, Long)].collect().toSet
    val got = adjSet(s"$root/v=$vN/adj")
    val want = Set((0L, 1L), (1L, 0L), (2L, 3L), (3L, 2L),
      (10L, 0L), (0L, 10L), (11L, 2L), (2L, 11L))
    assert(got == want, s"maintained adjacency after streamed adds: $got")
    assert(spark.read.parquet(s"$root/v=$vN/vectors").count() == 6)
    // replaying batch 1 against v=1 reproduces v=2's adjacency
    val stored1 = spark.read.parquet(s"$root/v=1/vectors")
    val links1 = Seq((11L, 2L)).toDF("a", "b") // 11's top-1 among v=1's stored
    val replayed = adjSet(s"$root/v=1/adj") ++
      links1.as[(Long, Long)].collect().toSet ++
      links1.select(col("b"), col("a")).as[(Long, Long)].collect().toSet
    assert(replayed == adjSet(s"$root/v=2/adj"),
      s"replayed add batch diverged: $replayed")
    assert(stored1.count() == 5)
  }

  // ---------------------------------------------------------------- T23
  test("T23: streaming KEY-cascade deletes — arriving key lists probe the snapshots, cascade through the pipeline, absent keys are no-ops") {
    // q123's deleteBatchByKey in-stream: deletes arrive as (side, key)
    // requests, each micro-batch derives the signed batches by probing
    // the LATEST snapshots (delete-bounded LEFT SEMI), and the
    // maintained agg-over-join view updates through the pipeline
    // maintainer — a dim-key delete removes every joined fact
    // contribution with no fact tombstones, and re-deleting an
    // already-gone key derives an EMPTY batch (idempotent by algebra,
    // not by bookkeeping).
    val root = Files.createTempDirectory("keydel").toString
    val ck = Files.createTempDirectory("keydel-ck").toString
    import graft.ops.TableOps
    def w(df: org.apache.spark.sql.DataFrame, p: String) =
      df.coalesce(1).write.mode("overwrite").parquet(p)
    val a0 = Seq((1L, "x", 1L), (2L, "x", 1L), (3L, "y", 1L)).toDF("cust", "grp", "_mult")
    val b0 = Seq((10L, 1L, 5L, 1L), (11L, 1L, 7L, 1L), (12L, 2L, 11L, 1L), (13L, 3L, 13L, 1L))
      .toDF("fid", "cust", "sum_v", "_mult")
    val view0 = a0.drop("_mult").join(b0.drop("_mult"), "cust")
      .groupBy("grp").agg(sum("sum_v").as("sum_v"), count(lit(1)).as("cnt"))
    w(a0, s"$root/v=0/a"); w(b0, s"$root/v=0/b"); w(view0, s"$root/v=0/view")
    val in = MemoryStream[(String, Long)](spark) // (side, key) delete requests
    def start() = in.toDF().toDF("side", "k")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/v=$v")
          .find(d => new java.io.File(d).exists()).getOrElse(s"$root/v=0")
        val a = sp.read.parquet(s"$prior/a"); val b = sp.read.parquet(s"$prior/b")
        val view = sp.read.parquet(s"$prior/view")
        val da = TableOps.deleteBatchByKey(a,
          batch.filter(col("side") === "a").select(col("k").as("cust")), Seq("cust"))
        val db = TableOps.deleteBatchByKey(b,
          batch.filter(col("side") === "b").select(col("k").as("fid")), Seq("fid"))
        val out = s"$root/v=${id + 1}"
        w(TableOps.consolidate(a.unionByName(da), Seq("cust", "grp")), s"$out/a")
        w(TableOps.consolidate(b.unionByName(db), Seq("fid", "cust", "sum_v")), s"$out/b")
        w(TableOps.maintainPipelineCounted(view, a, da, b, db,
          joinKeys = Seq("cust"), aggKeys = Seq("grp"),
          sumCols = Seq("sum_v")), s"$out/view")
      }.start()
    val q1 = start()
    in.addData(("a", 1L)) // cancel dim key 1: BOTH its fact rows cascade out
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from the same checkpoint
    // fact fid 13 purged (EMPTIES grp y) + dim key 1 re-deleted (gone
    // since v=1 — the probe must derive an empty batch, not -1 again)
    in.addData(("b", 13L), ("a", 1L))
    q2.processAllAvailable(); q2.stop()
    def viewOf(v: Long): Map[String, (Long, Long)] =
      spark.read.parquet(s"$root/v=$v/view")
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(viewOf(1) == Map("x" -> (11L, 1L), "y" -> (13L, 1L)), viewOf(1).toString)
    assert(viewOf(2) == Map("x" -> (11L, 1L)), s"grp y must vanish: ${viewOf(2)}")
    // maintained == recompute from the final snapshots
    val rec = spark.read.parquet(s"$root/v=2/a").drop("_mult")
      .join(spark.read.parquet(s"$root/v=2/b").drop("_mult"), "cust")
      .groupBy("grp").agg(sum("sum_v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rec == viewOf(2), s"maintained diverged from recompute: $rec")
    // the re-deleted absent key really was a no-op on the dim snapshot
    assert(spark.read.parquet(s"$root/v=2/a").count() == 2)
  }

  // ---------------------------------------------------------------- T22
  test("T22: streaming two-hop Z-set circuit — one change stream maintains the intermediate AND the gold view, restart-safe") {
    // q124's stored-intermediate circuit in-stream: signed change rows
    // for ALL THREE bases (side tag c/o/l) arrive in one stream, and
    // each micro-batch runs one delta pass per operator hop against
    // the latest versioned snapshot FIVE-tuple (c, o, l, v1, view) —
    // ΔV1 = joinDelta(C, ΔC, O, ΔO) consolidates into the stored V1
    // AND feeds hop 2 as a base-side batch. A batch inserting a
    // customer, its order, AND its lineitem together exercises the
    // ΔA⋈ΔB terms across BOTH hops in a single trigger.
    val root = Files.createTempDirectory("circuit").toString
    val ck = Files.createTempDirectory("circuit-ck").toString
    import graft.ops.TableOps
    def w(df: org.apache.spark.sql.DataFrame, p: String) =
      df.coalesce(1).write.mode("overwrite").parquet(p)
    val c0 = Seq((1L, 10L, 1L), (2L, 10L, 1L), (3L, 20L, 1L)).toDF("cust", "grp", "_mult")
    val o0 = Seq((1L, 100L, 1L), (2L, 200L, 1L), (3L, 300L, 1L)).toDF("cust", "ord", "_mult")
    val l0 = Seq((100L, 5L, 1L), (100L, 7L, 1L), (200L, 11L, 1L), (300L, 13L, 1L))
      .toDF("ord", "sum_v", "_mult")
    val v10 = c0.drop("_mult").join(o0.drop("_mult"), "cust")
      .select(col("ord"), col("grp")).withColumn("_mult", lit(1L))
    val view0 = v10.drop("_mult").join(l0.drop("_mult"), "ord")
      .groupBy("grp").agg(sum("sum_v").as("sum_v"), count(lit(1)).as("cnt"))
    w(c0, s"$root/v=0/c"); w(o0, s"$root/v=0/o"); w(l0, s"$root/v=0/l")
    w(v10, s"$root/v=0/v1"); w(view0, s"$root/v=0/view")
    val in = MemoryStream[(String, Long, Long, Long)](spark) // (side, x, y, mult)
    def start() = in.toDF().toDF("side", "x", "y", "m")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/v=$v")
          .find(d => new java.io.File(d).exists()).getOrElse(s"$root/v=0")
        val c = sp.read.parquet(s"$prior/c"); val o = sp.read.parquet(s"$prior/o")
        val l = sp.read.parquet(s"$prior/l"); val v1 = sp.read.parquet(s"$prior/v1")
        val view = sp.read.parquet(s"$prior/view")
        val dc = batch.filter(col("side") === "c")
          .select(col("x").as("cust"), col("y").as("grp"), col("m").as("_mult"))
        val dO = batch.filter(col("side") === "o")
          .select(col("x").as("cust"), col("y").as("ord"), col("m").as("_mult"))
        val dl = batch.filter(col("side") === "l")
          .select(col("x").as("ord"), col("y").as("sum_v"), col("m").as("_mult"))
        val dv1 = TableOps.joinDeltaCounted(c, dc, o, dO,
          keys = Seq("cust"), viewCols = Seq("ord", "grp"))
        val dv2 = TableOps.joinDeltaCounted(v1, dv1, l, dl,
          keys = Seq("ord"), viewCols = Seq("grp", "sum_v"))
        val out = s"$root/v=${id + 1}"
        w(TableOps.consolidate(c.unionByName(dc), Seq("cust", "grp")), s"$out/c")
        w(TableOps.consolidate(o.unionByName(dO), Seq("cust", "ord")), s"$out/o")
        w(TableOps.consolidate(l.unionByName(dl), Seq("ord", "sum_v")), s"$out/l")
        w(TableOps.consolidate(v1.unionByName(dv1), Seq("ord", "grp")), s"$out/v1")
        w(TableOps.maintainAggCounted(view, dv2, keys = Seq("grp"),
          sumCols = Seq("sum_v")), s"$out/view")
      }.start()
    val q1 = start()
    // batch 0: cust 1 cancelled (cascades through BOTH hops) + a new
    // lineitem on order 200
    in.addData(("c", 1L, 10L, -1L), ("l", 200L, 4L, 1L))
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from the same checkpoint
    // batch 1: order 300 cancelled (EMPTIES grp 20) + a brand-new
    // customer with her order AND its lineitem in one trigger —
    // the ΔA⋈ΔB path on both hops
    in.addData(("o", 3L, 300L, -1L),
      ("c", 4L, 30L, 1L), ("o", 4L, 400L, 1L), ("l", 400L, 9L, 1L))
    q2.processAllAvailable(); q2.stop()
    val vN = new java.io.File(root).listFiles()
      .map(_.getName.stripPrefix("v=").toLong).max
    assert(vN == 2)
    def viewOf(v: Long): Map[Long, (Long, Long)] =
      spark.read.parquet(s"$root/v=$v/view")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // grp 10: lost cust 1's rows (5, 7), gained 4 -> (11+4, 2);
    // grp 20: emptied by the order-300 cancel; grp 30: the new chain
    assert(viewOf(2) == Map(10L -> (15L, 2L), 30L -> (9L, 1L)), viewOf(2).toString)
    // the maintained view equals the recompute from the FINAL bases
    val rec = spark.read.parquet(s"$root/v=2/c").drop("_mult")
      .join(spark.read.parquet(s"$root/v=2/o").drop("_mult"), "cust")
      .join(spark.read.parquet(s"$root/v=2/l").drop("_mult"), "ord")
      .groupBy("grp").agg(sum("sum_v").as("s"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rec == viewOf(2), s"maintained diverged from recompute: $rec vs ${viewOf(2)}")
    // and the stored intermediate matches ITS recompute
    val v1rec = spark.read.parquet(s"$root/v=2/c").drop("_mult")
      .join(spark.read.parquet(s"$root/v=2/o").drop("_mult"), "cust")
      .select("ord", "grp").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val v1got = spark.read.parquet(s"$root/v=2/v1").filter(col("_mult") =!= 0L)
      .select("ord", "grp").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(v1got == v1rec, s"stored intermediate diverged: $v1got vs $v1rec")
  }

  // ---------------------------------------------------------------- T21
  test("T21: streamed appends maintain the zone table AND the pruned read consumes it — fewer files, exact rows") {
    // the full streaming lakehouse loop in one TCK: arriving rows land
    // in the chunk-partitioned store, their envelopes merge into the
    // maintained zone table (T18), and a reader prunes its scan with
    // the LATEST maintained version (q121's Layout.prunedRead) —
    // including rows in a chunk that did not exist at base-build time
    // (zone-table COMPLETENESS is what makes pruning safe).
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val dataDir = Files.createTempDirectory("zprune-data").toString
    val zroot = Files.createTempDirectory("zprune-zones").toString
    val ck = Files.createTempDirectory("zprune-ck").toString
    val base = spark.range(0, 800).select(col("id"),
      format_string("c%03d", expr("id div 100")).as("chunk"))
    graft.ops.Layout.writeClustered(base, dataDir, "chunk")
    base.groupBy("chunk").agg(min("id").as("mn_id"), max("id").as("mx_id"))
      .coalesce(1).write.parquet(s"$zroot/v=0")
    val in = MemoryStream[(Long, String)](spark)
    def start() = in.toDF().toDF("id", "chunk")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$zroot/v=$v")
          .find(d => new java.io.File(d).exists()).getOrElse(s"$zroot/v=0")
        batch.write.mode("append").partitionBy("chunk").parquet(dataDir)
        val delta = batch.groupBy("chunk")
          .agg(min("id").as("mn_id"), max("id").as("mx_id"))
        graft.ops.TableOps.maintainZoneMap(sp.read.parquet(prior), delta,
            Seq("chunk"), Seq("mn_id"), Seq("mx_id"))
          .coalesce(1).write.mode("overwrite").parquet(s"$zroot/v=${id + 1}")
      }.start()
    val q1 = start()
    in.addData((250L, "c009")) // a MID-RANGE id lands in a NEW chunk
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // restart from the same checkpoint
    in.addData((901L, "c009"))
    q2.processAllAvailable(); q2.stop()
    val vN = new java.io.File(zroot).listFiles()
      .map(_.getName.stripPrefix("v=").toLong).max
    val zones = spark.read.parquet(s"$zroot/v=$vN")
    // probe [200, 320]: base chunks c002/c003 PLUS the streamed c009
    // (its maintained envelope [250, 901] intersects). Since round 14
    // stale zones only LOOSEN skipping (T25 pins that); what the
    // MAINTAINED zones buy here is the new chunk pruning correctly
    // once its envelope is known — completeness became tightness
    val pruned = graft.ops.Layout.prunedRead(spark, dataDir, zones, "chunk",
      Seq(graft.ops.Layout.RangeSpec.between("id", 200L, 320L)))
    val full = spark.read.parquet(dataDir).filter(col("id").between(200, 320))
    assert(pruned.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      full.select("id").collect().map(_.getLong(0)).sorted.toSeq)
    assert(pruned.filter(col("id") === 250L).count() == 2,
      "the streamed append in the new chunk must be visible to the pruned read")
    // and the scan really skipped files
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
      graft.TestPlans.fileScans(p)
    pruned.collect()
    val scanned = fileScans(pruned.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    val total = spark.read.parquet(dataDir).inputFiles.length.toLong
    assert(scanned < total, s"pruned read scanned $scanned of $total files")
  }

  // ---------------------------------------------------------------- T25
  test("T25: transparent zone reads in-stream — a STALE zone table only loosens skipping, never drops streamed rows") {
    // T21 pins the explicit prunedRead's completeness CONTRACT (a
    // reader on stale zones would silently drop a new chunk's rows);
    // the transparent index inverts the failure mode: a chunk MISSING
    // from the zone table is kept unconditionally, so reading through
    // yesterday's zone snapshot after today's appends is safe — the
    // scan just prunes less until the zones catch up.
    val dataDir = Files.createTempDirectory("tzprune-data").toString
    val zroot = Files.createTempDirectory("tzprune-zones").toString
    val ck = Files.createTempDirectory("tzprune-ck").toString
    val base = spark.range(0, 800).select(col("id"),
      format_string("c%03d", expr("id div 100")).as("chunk"))
    graft.ops.Layout.writeClustered(base, dataDir, "chunk")
    base.groupBy("chunk").agg(min("id").as("mn_id"), max("id").as("mx_id"))
      .coalesce(1).write.parquet(s"$zroot/v=0")
    val in = MemoryStream[(Long, String)](spark)
    val q = in.toDF().toDF("id", "chunk")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").partitionBy("chunk").parquet(dataDir)
      }.start()
    in.addData((250L, "c009")) // a mid-range id lands in a NEW chunk
    q.processAllAvailable(); q.stop()
    // read through the STALE v=0 zones — c009 has no envelope row
    val stale = spark.read.parquet(s"$zroot/v=0")
    val r = graft.ops.Layout.zoneMapRead(spark, dataDir, stale, "chunk", Seq("id"))
      .filter(col("id").between(200, 320))
    val got = r.select("id").collect().map(_.getLong(0)).sorted.toSeq
    val want = spark.read.parquet(dataDir).filter(col("id").between(200, 320))
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got == want, "stale zones must not drop the streamed row")
    assert(got.count(_ == 250L) == 2, "the new chunk's row must be visible")
    // and the stale zones still pruned the chunks they DO know:
    // c002, c003 survive their envelopes; c009 is kept by absence —
    // 3 scanned of 9 listed dirs
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
      graft.TestPlans.fileScans(p)
    r.collect()
    val scanned = fileScans(r.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    val total = spark.read.parquet(dataDir).inputFiles.length.toLong
    assert(scanned < total,
      s"stale zones should still prune known chunks: $scanned of $total")
    // once the zones catch up (one maintainZoneMap merge), the new
    // chunk prunes like any other — fresh zones, tighter scan
    val fresh = graft.ops.TableOps.maintainZoneMap(stale,
      Seq((250L, "c009")).toDF("id", "chunk").groupBy("chunk")
        .agg(min("id").as("mn_id"), max("id").as("mx_id")),
      Seq("chunk"), Seq("mn_id"), Seq("mx_id"))
    val r2 = graft.ops.Layout.zoneMapRead(spark, dataDir, fresh, "chunk", Seq("id"))
      .filter(col("id").between(400, 450))
    assert(r2.count() ==
      spark.read.parquet(dataDir).filter(col("id").between(400, 450)).count())
    r2.collect()
    val scanned2 = fileScans(r2.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(scanned2 <= 1L,
      s"fresh zones must prune the caught-up chunk too: scanned $scanned2")
  }

  // ---------------------------------------------------------------- T20
  /** Deterministic beam search over a committed (vectors, adj)
    * snapshot: entry = min vid, 3 expansion rounds at beam 2, ties by
    * vid asc — the l3_ann_graph_search shape, query-count-bounded
    * (beam × degree rows per round; the corpus moves only as the
    * adjacency join). */
  private def annSearch(queries: org.apache.spark.sql.DataFrame,
                        vecs: org.apache.spark.sql.DataFrame,
                        adj: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val dot = expr("aggregate(zip_with(qe, ve, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
    val q = queries.select(col("qid"), col("emb").as("qe"))
    val entry = vecs.agg(min(col("vid")).as("vid"))
    var seen = q.select(col("qid")).crossJoin(broadcast(entry))
    var frontier = seen
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("sim").desc, col("vid").asc)
    def scored(cand: org.apache.spark.sql.DataFrame) =
      cand.join(vecs.select(col("vid"), col("emb").as("ve")), "vid")
        .join(broadcast(q), "qid")
        .select(col("qid"), col("vid"), dot.as("sim"))
    for (_ <- 1 to 3) {
      val expand = frontier.join(adj, frontier("vid") === adj("a"))
        .select(col("qid"), col("b").as("vid"))
      seen = seen.unionByName(expand).distinct()
      frontier = scored(seen)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
        .select("qid", "vid")
    }
    scored(seen).withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("qid"), col("vid"), round(col("sim"), 6).as("sim"))
  }

  test("T20: streaming ANN query path — arriving queries search the latest committed snapshot; restart replays bit-identically") {
    // T19 maintains the index IN-stream; this is the other half: query
    // vectors ARRIVE as a stream and each batch runs the layered
    // search against the latest committed (vectors, adj) snapshot.
    // The snapshot choice is a FUNCTION OF batchId (first existing
    // version <= id — the T13/T16/T19 versioned-snapshot convention),
    // so a replayed batch re-reads the same frozen snapshot and the
    // deterministic search (min-vid entry, vid-asc ties) reproduces
    // its answers bit-for-bit across a checkpoint restart.
    val root = Files.createTempDirectory("annq").toString
    val ck = Files.createTempDirectory("annq-ck").toString
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)),
        (2L, Seq(0.0, 1.0)), (3L, Seq(0.1, 0.9)))
      .toDF("vid", "emb").write.parquet(s"$root/v=0/vectors")
    Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("a", "b").write.parquet(s"$root/v=0/adj")
    val in = MemoryStream[(Long, Seq[Double])](spark)
    def snapDir(id: Long): String =
      (id to 0L by -1L).map(v => s"$root/v=$v")
        .find(d => new java.io.File(d).exists()).getOrElse(s"$root/v=0")
    def start() = in.toDF().toDF("qid", "emb")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val ver = snapDir(id)
        annSearch(batch, sp.read.parquet(s"$ver/vectors"), sp.read.parquet(s"$ver/adj"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/ans/b=$id")
      }.start()
    val q1 = start()
    in.addData((100L, Seq(0.95, 0.05)), (101L, Seq(0.05, 0.95)))
    q1.processAllAvailable(); q1.stop()
    // a maintenance commit lands BETWEEN query batches: vector 4 joins
    // near the 2/3 clique (the T19 growth path)
    spark.read.parquet(s"$root/v=0/vectors")
      .unionByName(Seq((4L, Seq(0.7, 0.7))).toDF("vid", "emb"))
      .coalesce(1).write.parquet(s"$root/v=1/vectors")
    spark.read.parquet(s"$root/v=0/adj")
      .unionByName(Seq((2L, 4L), (4L, 2L), (3L, 4L), (4L, 3L)).toDF("a", "b"))
      .coalesce(1).write.parquet(s"$root/v=1/adj")
    val q2 = start() // restart from the same checkpoint
    in.addData((102L, Seq(0.68, 0.72)))
    q2.processAllAvailable(); q2.stop()
    def ans(b: Long): Set[(Long, Long, Double)] =
      spark.read.parquet(s"$root/ans/b=$b").as[(Long, Long, Double)].collect().toSet
    // batch 0 searched v=0: 100 -> 0 (dot .95), 101 -> 2 (dot .95)
    assert(ans(0) == Set((100L, 0L, 0.95), (101L, 2L, 0.95)), s"batch-0 answers: ${ans(0)}")
    // batch 1 searched v=1: 102 -> the NEW vector 4 (dot .98) — under
    // v=0 its best reachable is 2 at .72, so this pins version advance
    assert(ans(1) == Set((102L, 4L, 0.98)), s"batch-1 answers: ${ans(1)}")
    // streamed results == the batch search over the same snapshots
    def batchSearch(qs: Seq[(Long, Seq[Double])], ver: String): Set[(Long, Long, Double)] =
      annSearch(qs.toDF("qid", "emb"),
        spark.read.parquet(s"$ver/vectors"), spark.read.parquet(s"$ver/adj"))
        .as[(Long, Long, Double)].collect().toSet
    assert(batchSearch(Seq((100L, Seq(0.95, 0.05)), (101L, Seq(0.05, 0.95))), snapDir(0)) == ans(0))
    // a REPLAYED batch 1 (same id -> same snapshot fn -> same search)
    // reproduces its committed answers bit-identically
    assert(batchSearch(Seq((102L, Seq(0.68, 0.72))), snapDir(1)) == ans(1))
  }

  // ---------------------------------------------------------------- T24
  test("T24: streaming ANN lifecycle — degree drift past the gate triggers a compaction commit; below it, none; replay re-derives the decision") {
    // T19 grows the index in-stream; this closes the lifecycle loop
    // with CorpusOps.compactIfDegreeHigh wired after every insert
    // batch (the reclusterIfDeep discipline on the ANN side): the
    // commit is the compacted adjacency exactly when the maintained
    // max out-degree drifts past the gate, the un-compacted one
    // otherwise, and the decision is a FUNCTION of the stored snapshot
    // + batch — a replayed batch re-derives the same commit.
    val root = Files.createTempDirectory("annlife").toString
    val ck = Files.createTempDirectory("annlife-ck").toString
    Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)),
        (2L, Seq(0.8, 0.2)), (3L, Seq(0.0, 1.0)))
      .toDF("vid", "emb").write.parquet(s"$root/v=0/vectors")
    // out-degrees: 0 -> 2, 1 -> 1, 2 -> 2, 3 -> 1 (gate is 3, cap 2)
    Seq((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L), (2L, 3L), (3L, 2L))
      .toDF("a", "b").write.parquet(s"$root/v=0/adj")
    val in = MemoryStream[(Long, Seq[Double])](spark)
    def grow(stored: org.apache.spark.sql.DataFrame,
             adj: org.apache.spark.sql.DataFrame,
             batch: org.apache.spark.sql.DataFrame) = {
      // T19's insert: top-1 batch-vs-stored, symmetrized
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("qid").orderBy(col("sim").desc, col("vid").asc)
      val links = stored.select(col("vid"), col("emb").as("ve"))
        .crossJoin(broadcast(batch
          .select(col("vid").as("qid"), col("emb").as("qe"))))
        .select(col("qid"), col("vid"),
          expr("aggregate(zip_with(qe, ve, (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
            .as("sim"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 1)
        .select(col("qid").as("a"), col("vid").as("b"))
      (adj.unionByName(links)
        .unionByName(links.select(col("b").as("a"), col("a").as("b")))
        .distinct(),
        stored.unionByName(batch.toDF("vid", "emb")))
    }
    def start() = in.toDF().toDF("vid", "emb")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/v=$v")
          .find(d => new java.io.File(d).exists()).getOrElse(s"$root/v=0")
        val (grown, vecsNew) =
          grow(sp.read.parquet(s"$prior/vectors"), sp.read.parquet(s"$prior/adj"), batch)
        val (committed, _) = graft.ops.CorpusOps.compactIfDegreeHigh(
          grown.localCheckpoint(), vecsNew, cap = 2, maxDegreeThreshold = 3,
          idCol = "vid", vecCol = "emb")
        val out = s"$root/v=${id + 1}"
        committed.coalesce(1).write.mode("overwrite").parquet(s"$out/adj")
        vecsNew.coalesce(1).write.mode("overwrite").parquet(s"$out/vectors")
      }.start()
    def adjSet(v: Long): Set[(Long, Long)] =
      spark.read.parquet(s"$root/v=$v/adj").as[(Long, Long)].collect().toSet
    val q1 = start()
    in.addData((10L, Seq(0.95, 0.05))) // links to 0: degree 3 == gate
    q1.processAllAvailable(); q1.stop()
    // NO-TRIGGER commit: v=1 is exactly the grown adjacency
    val base = Set((0L, 1L), (1L, 0L), (0L, 2L), (2L, 0L), (2L, 3L), (3L, 2L))
    assert(adjSet(1) == base ++ Set((10L, 0L), (0L, 10L)),
      s"below-gate batch must commit un-compacted: ${adjSet(1)}")
    val q2 = start() // restart from the same checkpoint
    in.addData((11L, Seq(0.97, 0.03))) // links to 0: degree 4 > gate
    q2.processAllAvailable(); q2.stop()
    // TRIGGERED commit: every node re-ranked to its top-2 by cosine —
    // 0 keeps {11, 10} (its closest) and sheds 1 and 2
    val got = adjSet(2)
    val zeroRows = got.filter(_._1 == 0L)
    assert(zeroRows == Set((0L, 11L), (0L, 10L)),
      s"node 0 must keep its two closest after compaction: $zeroRows")
    val maxDeg = spark.read.parquet(s"$root/v=2/adj")
      .groupBy("a").count().agg(max("count")).head().getLong(0)
    assert(maxDeg <= 2L, s"compacted max out-degree $maxDeg exceeds the cap")
    // search quality holds across the compaction: the same query
    // resolves identically on the pre- and post-compaction snapshots
    def searchOn(v: Long): Set[(Long, Long, Double)] =
      annSearch(Seq((200L, Seq(0.9, 0.1))).toDF("qid", "emb"),
        spark.read.parquet(s"$root/v=$v/vectors"),
        spark.read.parquet(s"$root/v=$v/adj"))
        .as[(Long, Long, Double)].collect().toSet
    assert(searchOn(1).map(t => (t._1, t._2)) == Set((200L, 0L)))
    assert(searchOn(2).map(t => (t._1, t._2)) == Set((200L, 0L)),
      s"compaction changed the search answer: ${searchOn(2)}")
    // REPLAY: re-deriving batch 1's commit from the stored v=1
    // snapshot reproduces v=2 bit-for-bit (same grow, same gate
    // decision, same re-rank)
    val (grown1, vecs1) = grow(spark.read.parquet(s"$root/v=1/vectors"),
      spark.read.parquet(s"$root/v=1/adj"),
      Seq((11L, Seq(0.97, 0.03))).toDF("vid", "emb"))
    val (replayed, rtrig) = graft.ops.CorpusOps.compactIfDegreeHigh(
      grown1, vecs1, cap = 2, maxDegreeThreshold = 3,
      idCol = "vid", vecCol = "emb")
    assert(rtrig, "replayed batch must re-derive the SAME trigger decision")
    assert(replayed.as[(Long, Long)].collect().toSet == got,
      "replayed compaction diverged from the committed adjacency")
  }

  // ---------------------------------------------------------------- T26
  test("T26: streamed corpus lifecycle — ONE change stream drives the cascade composites against versioned artifact bundles; restart + replay reproduce commits") {
    // T13/T16 maintain single views per batch; T24 closes the ANN
    // lifecycle. This drives the WHOLE corpus lifecycle: side-tagged
    // change batches (ins rows carry text + embedding, del rows an id)
    // flow through ingestDocuments/deleteDocuments against versioned
    // snapshot BUNDLES — all nine CorpusArtifacts members + the docs
    // table committed per batchId, each batch chaining off the PRIOR
    // version's stored bundle alone (the round-15 chaining contract).
    // Gates: every committed version equals buildArtifacts over the
    // corpus as of that version (frozen quantizer), a checkpoint
    // restart lands mid-stream, and re-deriving a batch's commit from
    // its stored prior reproduces it member-for-member.
    import org.apache.spark.sql.DataFrame
    import graft.ops.{CacheScope, CorpusOps}
    val root = Files.createTempDirectory("lifecycle").toString
    val ck = Files.createTempDirectory("lifecycle-ck").toString
    val terms = Seq("alpha", "beta")
    val annK = 2; val probeK = 2
    val base40 = (1 to 40).map(i => s"w$i").mkString(" ")
    val near40 = (1 to 39).map(i => s"w$i").mkString(" ") + " zz"
    val v40 = (1 to 40).map(i => s"v$i").mkString(" ")
    val v40b = (1 to 39).map(i => s"v$i").mkString(" ") + " vz"
    val docs0 = Seq(
      1L -> base40, 2L -> base40, 3L -> near40, 4L -> v40,
      5L -> ("alpha beta alpha " + (1 to 20).map(i => s"u$i").mkString(" ")),
      6L -> (1 to 30).map(i => s"x$i").mkString(" "))
    val vecOf = Map(
      1L -> Seq(1.0, 0.1, 0.0), 2L -> Seq(0.9, 0.2, 0.0),
      3L -> Seq(0.8, 0.1, 0.1), 4L -> Seq(0.0, 1.0, 0.1),
      5L -> Seq(0.0, 0.9, 0.2), 6L -> Seq(0.1, 0.0, 1.0),
      11L -> Seq(0.95, 0.1, 0.0), 12L -> Seq(0.1, 0.95, 0.0),
      13L -> Seq(0.0, 0.2, 0.95))
    Seq((100L, Seq(1.0, 0.0, 0.0)), (101L, Seq(0.0, 1.0, 0.0)),
        (102L, Seq(0.0, 0.0, 1.0))).toDF("cid", "embedding")
      .coalesce(1).write.parquet(s"$root/cents")
    def saveBundle(dir: String, docs: DataFrame,
                   a: CorpusOps.CorpusArtifacts): Unit = {
      def w(df: DataFrame, n: String): Unit =
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
      w(docs, "docs"); w(a.exactAux, "exactAux")
      w(a.exactKeepers, "exactKeepers"); w(a.clusters, "clusters")
      w(a.pairs, "pairs"); w(a.annIndex, "annIndex")
      w(a.annProbes, "annProbes"); w(a.annAssign, "annAssign")
      w(a.vectors, "vectors"); w(a.bm25Stats, "bm25Stats")
    }
    def loadBundle(sp: org.apache.spark.sql.SparkSession,
                   dir: String): (DataFrame, CorpusOps.CorpusArtifacts) = {
      def r(n: String) = sp.read.parquet(s"$dir/$n")
      (r("docs"), CorpusOps.CorpusArtifacts(r("exactAux"), r("exactKeepers"),
        r("clusters"), r("pairs"), r("annIndex"), r("annProbes"),
        r("annAssign"), r("vectors"), r("bm25Stats")))
    }
    // apply one side-tagged change batch to a (docs, artifacts) state —
    // the SAME function the stream and the replay gate call
    def applyChanges(sp: org.apache.spark.sql.SparkSession, b: DataFrame,
                     docsPrior: DataFrame, arts0: CorpusOps.CorpusArtifacts)
                    (implicit sc: CacheScope): (DataFrame, CorpusOps.CorpusArtifacts) = {
      val cents = sp.read.parquet(s"$root/cents")
      val ins = sc.cached(b.filter(col("op") === "ins"))
      val insDocs = ins.select("doc_id", "text")
      val insVecs = ins.select(col("doc_id").as("vec_id"),
        col("emb").as("embedding"))
      val delIds = sc.cached(b.filter(col("op") === "del").select("doc_id"))
      val (docs1, arts1) =
        if (ins.limit(1).count() > 0)
          (docsPrior.unionByName(insDocs),
            CorpusOps.ingestDocuments(insDocs, docsPrior, arts0,
              insVecs, cents, terms, annK, probeK).artifacts)
        else (docsPrior, arts0)
      if (delIds.limit(1).count() > 0)
        (docs1.join(delIds, Seq("doc_id"), "left_anti"),
          CorpusOps.deleteDocuments(delIds, docs1, arts1, terms, annK).artifacts)
      else (docs1, arts1)
    }
    locally { // v=0: the initial corpus's bundle
      implicit val sc: CacheScope = CacheScope.owned()
      try {
        val d0 = docs0.toDF("doc_id", "text")
        val v0 = docs0.map(_._1).map(i => (i, vecOf(i))).toDF("vec_id", "embedding")
        saveBundle(s"$root/v=0", d0, CorpusOps.buildArtifacts(
          d0, v0, spark.read.parquet(s"$root/cents"), terms, annK, probeK))
      } finally sc.close()
    }
    val in = MemoryStream[(String, Long, String, Seq[Double])](spark)
    def start() = in.toDF().toDF("op", "doc_id", "text", "emb")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/v=$v")
          .find(d => new java.io.File(d).exists()).getOrElse(s"$root/v=0")
        implicit val sc: CacheScope = CacheScope.owned()
        try {
          val (docsPrior, arts0) = loadBundle(sp, prior)
          val (docsNew, artsNew) = applyChanges(sp, batch, docsPrior, arts0)
          saveBundle(s"$root/v=${id + 1}", docsNew, artsNew)
        } finally sc.close()
      }.start()
    val q1 = start()
    in.addData(("ins", 11L, base40, vecOf(11L)), // exact dup joins group A
               ("ins", 12L, "alpha " + (1 to 30).map(i => s"p$i").mkString(" "), vecOf(12L)))
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // checkpoint restart mid-stream
    in.addData(("ins", 13L, v40b, vecOf(13L)),   // near dup of stored 4
               ("del", 1L, "", Seq.empty),        // the group-A keeper
               ("del", 12L, "", Seq.empty))       // a doc batch 0 ingested
    q2.processAllAvailable(); q2.stop()
    // ---- gate 1: every committed version == the rebuild over the
    // corpus as of that version, frozen quantizer, member for member
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(least(col("d1"), col("d2")).as("a"),
        greatest(col("d1"), col("d2")).as("b")).as[(Long, Long)].collect().toSet
    def assertVersion(v: Long, ids: Seq[Long], extra: Map[Long, String]): Unit = {
      implicit val sc: CacheScope = CacheScope.owned()
      try {
        val (docsV, artsV) = loadBundle(spark, s"$root/v=$v")
        val expDocs = (docs0.toMap ++ extra).filter(kv => ids.contains(kv._1))
        val reb = CorpusOps.buildArtifacts(
          expDocs.toSeq.toDF("doc_id", "text"),
          ids.map(i => (i, vecOf(i))).toDF("vec_id", "embedding"),
          spark.read.parquet(s"$root/cents"), terms, annK, probeK)
        assert(rows(docsV) == rows(expDocs.toSeq.toDF("doc_id", "text")),
          s"v=$v docs diverged")
        assert(rows(artsV.exactKeepers) == rows(reb.exactKeepers), s"v=$v keepers")
        assert(rows(artsV.exactAux) == rows(reb.exactAux), s"v=$v exactAux")
        assert(rows(artsV.clusters) == rows(reb.clusters), s"v=$v clusters")
        assert(pairSet(artsV.pairs) == pairSet(reb.pairs), s"v=$v pairs")
        assert(rows(artsV.annIndex) == rows(reb.annIndex), s"v=$v annIndex")
        assert(rows(artsV.annProbes) == rows(reb.annProbes), s"v=$v annProbes")
        assert(rows(artsV.annAssign) == rows(reb.annAssign), s"v=$v annAssign")
        assert(rows(artsV.vectors) == rows(reb.vectors), s"v=$v vectors")
        assert(rows(artsV.bm25Stats) == rows(reb.bm25Stats), s"v=$v bm25Stats")
      } finally sc.close()
    }
    val ins0 = Map(11L -> base40,
      12L -> ("alpha " + (1 to 30).map(i => s"p$i").mkString(" ")),
      13L -> v40b)
    assertVersion(1L, Seq(1L, 2L, 3L, 4L, 5L, 6L, 11L, 12L), ins0)
    assertVersion(2L, Seq(2L, 3L, 4L, 5L, 6L, 11L, 13L), ins0)
    // ---- gate 2: REPLAY — re-deriving batch 1's commit from the
    // stored v=1 bundle reproduces v=2 member-for-member
    locally {
      implicit val sc: CacheScope = CacheScope.owned()
      try {
        val (docs1, arts1) = loadBundle(spark, s"$root/v=1")
        val b1 = Seq(("ins", 13L, v40b, vecOf(13L)),
          ("del", 1L, "", Seq.empty[Double]),
          ("del", 12L, "", Seq.empty[Double])).toDF("op", "doc_id", "text", "emb")
        val (docsR, artsR) = applyChanges(spark, b1, docs1, arts1)
        val (docs2, arts2) = loadBundle(spark, s"$root/v=2")
        assert(rows(docsR) == rows(docs2), "replayed docs diverged from v=2")
        assert(rows(artsR.exactKeepers) == rows(arts2.exactKeepers) &&
          rows(artsR.clusters) == rows(arts2.clusters) &&
          rows(artsR.annIndex) == rows(arts2.annIndex) &&
          rows(artsR.bm25Stats) == rows(arts2.bm25Stats) &&
          pairSet(artsR.pairs) == pairSet(arts2.pairs) &&
          rows(artsR.annProbes) == rows(arts2.annProbes) &&
          rows(artsR.annAssign) == rows(arts2.annAssign) &&
          rows(artsR.vectors) == rows(arts2.vectors),
          "replayed batch-1 commit diverged from the stored v=2 bundle")
      } finally sc.close()
    }
  }

  // ---------------------------------------------------------------- T27
  test("T27: streamed appends maintain the per-FILE zone table incrementally — only new files scanned, reader prunes with the latest version") {
    // T21 maintains CHUNK zones over a clustered layout; this is the
    // same loop over a PLAIN table at FILE granularity: each batch
    // appends parquet files under its own batch directory (idempotent
    // overwrite per batchId), Layout.maintainFileZones extends the
    // prior version's zone table by scanning ONLY the files it does
    // not know (parquet files are immutable), and the reader prunes
    // with the latest committed version. Gates: every version ==
    // fileZones rebuilt from the table as of that version (set-equal),
    // rows exact under the maintained table, executed file count <
    // total, and a version that arrives while the reader still holds
    // the PRIOR snapshot only loosens skipping (the stale contract).
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("filezones").toString
    val data = s"$root/data"
    val ck = Files.createTempDirectory("filezones-ck").toString
    // base table: 4 range-packed files, ids 0..399
    spark.range(0, 400).toDF("id")
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$data/b=base")
    locally {
      val z0 = graft.ops.Layout.fileZones(spark, data, Seq("id"))
      z0.coalesce(1).write.parquet(s"$root/z/v=0")
    }
    val in = MemoryStream[(Long, Long)](spark) // (lo, hi) append request
    def start() = in.toDF().toDF("lo", "hi")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/z/v=$v")
          .find(d => new java.io.File(d).exists()).getOrElse(s"$root/z/v=0")
        // idempotent append: the batch's rows land under ITS directory
        val bounds = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
        val rows = bounds.map { case (lo, hi) => sp.range(lo, hi).toDF("id") }
          .reduceOption(_ unionByName _).getOrElse(sp.range(0, 0).toDF("id"))
        rows.coalesce(1).write.mode("overwrite").parquet(s"$data/b=$id")
        val maintained = graft.ops.Layout.maintainFileZones(
          sp, data, sp.read.parquet(prior), Seq("id"))
        maintained.coalesce(1).write.mode("overwrite").parquet(s"$root/z/v=${id + 1}")
      }.start()
    val q1 = start()
    in.addData((10000L, 10100L))
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // checkpoint restart mid-stream
    in.addData((20000L, 20100L))
    q2.processAllAvailable(); q2.stop()
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    // every committed version == the rebuild over the table as of then
    // (version 2's table is the final one; version 1's lacked b=1 —
    // rebuildable by filtering the final listing is overkill: check
    // v=2 against the live rebuild and v=1 as a SUBSET of it)
    val v2 = spark.read.parquet(s"$root/z/v=2")
    assert(rows(v2) == rows(graft.ops.Layout.fileZones(spark, data, Seq("id"))),
      "maintained file-zone version diverged from the rebuild")
    val v1 = spark.read.parquet(s"$root/z/v=1")
    assert(rows(v1).subsetOf(rows(v2)) && rows(v1).size < rows(v2).size,
      "intermediate version is not a strict prefix of the final one")
    // the reader prunes with the latest version and stays row-exact
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
      graft.TestPlans.fileScans(p)
    val r = graft.ops.Layout.zoneMapReadFiles(spark, data, v2, "file", Seq("id"))
      .filter(col("id") >= 20000)
    assert(r.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      (20000L to 20099L).toSeq)
    r.collect()
    val scanned = fileScans(r.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(scanned < spark.read.parquet(data).inputFiles.length.toLong,
      s"maintained file zones did not prune the executed scan ($scanned files)")
    // the STALE prior version still returns batch-1's rows (files it
    // does not know are kept — skipping loosens, rows survive)
    val rStale = graft.ops.Layout.zoneMapReadFiles(spark, data, v1, "file", Seq("id"))
      .filter(col("id") >= 20000)
    assert(rStale.count() == 100,
      "a stale file-zone version dropped rows from files it does not know")
  }

  // ---------------------------------------------------------------- T28
  test("T28: snapshot RETENTION mid-stream — vacuumVersions keeps the floor, retained batches replay bit-identically, vacuumed ids fail loudly") {
    // Every versioned-store loop (T13, T16–T27) commits a snapshot per
    // batchId forever; this closes the retention gap: the T13 silver
    // MERGE loop reads its predecessor through TableOps.resolveVersion
    // (the first-existing-version <= batchId rule, now ONE spelling),
    // a vacuum runs MID-STREAM, and the restarted stream must behave
    // as if the vacuum never happened — every retained batch resolves
    // to the SAME predecessor (the floor version is kept exactly so
    // ids in the (floor, keepFrom) gap still resolve), replay of a
    // retained batch reproduces its commit bit-for-bit, and resolving
    // below the horizon throws instead of silently serving a newer
    // snapshot (which would change a replayed batch's input).
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("vacstream").toString
    val ck = Files.createTempDirectory("vacstream-ck").toString
    Seq((1L, "a", 0L), (2L, "b", 0L)).toDF("k", "v", "ts")
      .write.parquet(graft.ops.TableOps.versionPath(root, 0L))
    val in = MemoryStream[(Long, String, Long)](spark)
    def start() = in.toDF().toDF("k", "v", "ts")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = graft.ops.TableOps.versionPath(root,
          graft.ops.TableOps.resolveVersion(sp, root, id))
        graft.ops.TableOps.upsert(sp.read.parquet(prior), batch, Seq("k"))
          .coalesce(1)
          .write.mode("overwrite")
          .parquet(graft.ops.TableOps.versionPath(root, id + 1))
      }.start()
    val q1 = start()
    in.addData((2L, "b2", 1L), (3L, "c", 1L)) // batch 0 -> v=1
    q1.processAllAvailable()
    in.addData((1L, "a2", 2L)) // batch 1 -> v=2
    q1.processAllAvailable(); q1.stop()
    // resolution snapshot BEFORE the vacuum, over the ids it retains
    val pre = (2L to 5L).map(id =>
      id -> graft.ops.TableOps.resolveVersion(spark, root, id)).toMap
    // VACUUM MID-STREAM: keep from batch 2 on — floor is v=2
    val deleted = graft.ops.TableOps.vacuumVersions(spark, root, keepFrom = 2L)
    assert(deleted == Seq(0L, 1L), s"deleted: $deleted")
    assert(graft.ops.TableOps.listVersions(spark, root) == Seq(2L))
    (2L to 5L).foreach { id =>
      assert(graft.ops.TableOps.resolveVersion(spark, root, id) == pre(id),
        s"vacuum changed batch $id's resolution")
    }
    // the restarted stream continues over the vacuumed store
    val q2 = start()
    in.addData((4L, "d", 3L)) // batch 2 -> v=3, predecessor v=2 (kept floor)
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(graft.ops.TableOps.versionPath(root, 3L))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, "a2", 2L), (2L, "b2", 1L), (3L, "c", 1L), (4L, "d", 3L)),
      s"silver table after vacuum + restart: $got")
    // replay of the retained batch 2 from the stored floor is
    // bit-identical to its commit
    val replayed = graft.ops.TableOps.upsert(
      spark.read.parquet(graft.ops.TableOps.versionPath(root, 2L)),
      Seq((4L, "d", 3L)).toDF("k", "v", "ts"), Seq("k"))
      .as[(Long, String, Long)].collect().sorted.toSeq
    assert(replayed == got, s"replayed batch diverged post-vacuum: $replayed")
    // a vacuumed batch id fails LOUDLY — no silent newer snapshot
    val e = intercept[IllegalStateException] {
      graft.ops.TableOps.resolveVersion(spark, root, 1L)
    }
    assert(e.getMessage.contains("vacuum"), e.getMessage)
  }

  // ---------------------------------------------------------------- T29
  test("T29: streaming quantizer lifecycle — drift past the gate commits the RETRAINED index; below it the frozen one; replay re-derives the decision") {
    // T24 closes the adjacency lifecycle (compactIfDegreeHigh); this
    // closes the QUANTIZER's with CorpusOps.retrainIfDrifted wired
    // after each vector-ingest batch: an in-distribution batch commits
    // the frozen incremental index (batch rows only, no re-scoring of
    // stored vectors), a drifted batch commits the full re-train
    // (every vector re-assigned + re-encoded against the new
    // centroids/codebook), and the decision is a FUNCTION of the
    // stored snapshot + batch — a replayed batch re-derives the same
    // commit bit-for-bit.
    import org.apache.spark.sql.DataFrame
    import graft.ops.{CacheScope, CorpusOps}
    val root = Files.createTempDirectory("retrain").toString
    val ck = Files.createTempDirectory("retrain-ck").toString
    def vec(i: Long, scale: Double): Seq[Double] =
      Seq.tabulate(8)(d => scale * (((i + 1) * (d + 1)) % 5 + 1).toDouble)
    // stored corpus: 8 vectors, ids 0..7 (nlist=2 -> cents = ids 0,1)
    (0L until 8L).map(i => (i, vec(i, 1.0))).toDF("vec_id", "embedding")
      .write.parquet(s"$root/v=0/vectors")
    val params = (2, 2, 4, 2, 1) // (nlist, m, subDim, k, iters)
    def step(sp: org.apache.spark.sql.SparkSession, stored: DataFrame,
             batch: DataFrame): (DataFrame, Boolean) = {
      val (nlist, m, subDim, k, iters) = params
      CorpusOps.retrainIfDrifted(stored, batch, driftThreshold = 3.0,
        nlist, m, subDim, k, iters)(CacheScope.sessionOwned)
    }
    val in = MemoryStream[(Long, Seq[Double])](spark)
    def start() = in.toDF().toDF("vec_id", "embedding")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = graft.ops.TableOps.versionPath(root,
          graft.ops.TableOps.resolveVersion(sp, root, id))
        val stored = sp.read.parquet(s"$prior/vectors")
        val (index, retrained) = step(sp, stored, batch)
        val out = graft.ops.TableOps.versionPath(root, id + 1)
        index.coalesce(1).write.mode("overwrite").parquet(s"$out/index")
        stored.unionByName(batch).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/vectors")
        Seq(Tuple1(retrained)).toDF("retrained")
          .coalesce(1).write.mode("overwrite").parquet(s"$out/flag")
      }.start()
    val q1 = start()
    // batch 0: in-distribution vectors -> below gate, frozen commit
    in.addData((10L, vec(10L, 1.0)), (11L, vec(11L, 1.0)))
    q1.processAllAvailable(); q1.stop()
    def flag(v: Long): Boolean =
      spark.read.parquet(s"$root/v=$v/flag").head().getBoolean(0)
    def indexRows(v: Long): Set[String] =
      spark.read.parquet(s"$root/v=$v/index").collect().map(_.toString).toSet
    def indexIds(v: Long): Set[Long] =
      spark.read.parquet(s"$root/v=$v/index")
        .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!flag(1L), "in-distribution batch must commit the FROZEN index")
    assert(indexIds(1L) == Set(10L, 11L),
      s"frozen commit must carry batch rows only: ${indexIds(1L)}")
    // batch 1 (after checkpoint restart): vectors scaled x5 -> the
    // L2 drift ratio blows the 3.0 gate, the commit is the re-train
    val q2 = start()
    in.addData((20L, vec(20L, 5.0)), (21L, vec(21L, 5.0)))
    q2.processAllAvailable(); q2.stop()
    assert(flag(2L), "the drifted batch must trip the re-train gate")
    assert(indexIds(2L) == ((0L until 8L).toSet ++ Set(10L, 11L, 20L, 21L)),
      s"a re-train must re-encode EVERY vector: ${indexIds(2L)}")
    // replay: re-deriving batch 1's commit from the stored v=1
    // snapshot reproduces v=2 exactly — same gate decision, same rows
    val stored1 = spark.read.parquet(s"$root/v=1/vectors")
    val batch1 = Seq((20L, vec(20L, 5.0)), (21L, vec(21L, 5.0)))
      .toDF("vec_id", "embedding")
    val (reIndex, reTrig) = step(spark, stored1, batch1)
    assert(reTrig, "replayed batch must re-derive the SAME trigger decision")
    assert(reIndex.collect().map(_.toString).toSet == indexRows(2L),
      "replayed re-train diverged from the committed index")
  }

  // --------------------------------------------------------------- T29b
  test("T29b: STORED quantizer lifecycle — frozen state is a committed snapshot member, below-gate batches cost batch-only work, replay re-derives state and index") {
    // T29 with the round-16 cost-shape weakness fixed: the frozen
    // IVF-PQ quantizer (coarse centroids + residual codebook) is a
    // versioned snapshot MEMBER, trained once, consumed frozen by
    // every ingest batch via CorpusOps.retrainIfDriftedStored. A
    // below-gate commit computes batch-bounded work only (the drift
    // denominator is an aggregate over the stored index's persisted
    // d2c column — no stored vector is re-scored; CorpusOpsSpec pins
    // that with a poisoned table) and re-commits the UNCHANGED state;
    // a drifted commit re-trains and commits the NEW state. Replay
    // from any retained snapshot re-derives decision, index, and
    // state bit-for-bit.
    import org.apache.spark.sql.DataFrame
    import graft.ops.{CacheScope, CorpusOps}
    import graft.ops.CorpusOps.QuantizerState
    val root = Files.createTempDirectory("retrain-st").toString
    val ck = Files.createTempDirectory("retrain-st-ck").toString
    def vec(i: Long, scale: Double): Seq[Double] =
      Seq.tabulate(8)(d => scale * (((i + 1) * (d + 1)) % 5 + 1).toDouble)
    val (nlist, m, subDim, k, iters) = (2, 2, 4, 2, 1)
    implicit val scope: CacheScope = CacheScope.sessionOwned
    // v0: corpus + ONE paid-up-front quantizer train + full index
    val v0 = (0L until 8L).map(i => (i, vec(i, 1.0))).toDF("vec_id", "embedding")
    val out0 = graft.ops.TableOps.versionPath(root, 0L)
    v0.coalesce(1).write.parquet(s"$out0/vectors")
    val st0 = CorpusOps.trainQuantizer(v0, nlist, m, subDim, k, iters)
    CorpusOps.ivfpqEncodeAll(st0, v0, m, subDim)
      .coalesce(1).write.parquet(s"$out0/index")
    st0.cents.coalesce(1).write.parquet(s"$out0/quant_cents")
    st0.codebook.coalesce(1).write.parquet(s"$out0/quant_cb")
    def step(sp: org.apache.spark.sql.SparkSession, prior: String,
             batch: DataFrame): (DataFrame, Boolean, QuantizerState) = {
      val state = QuantizerState(sp.read.parquet(s"$prior/quant_cents"),
        sp.read.parquet(s"$prior/quant_cb"))
      CorpusOps.retrainIfDriftedStored(state,
        sp.read.parquet(s"$prior/index"),
        sp.read.parquet(s"$prior/vectors"), batch,
        driftThreshold = 3.0, nlist, m, subDim, k, iters)(CacheScope.sessionOwned)
    }
    val in = MemoryStream[(Long, Seq[Double])](spark)
    def start() = in.toDF().toDF("vec_id", "embedding")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = graft.ops.TableOps.versionPath(root,
          graft.ops.TableOps.resolveVersion(sp, root, id))
        val priorIndex = sp.read.parquet(s"$prior/index")
        val (delta, retrained, stateOut) = step(sp, prior, batch)
        val out = graft.ops.TableOps.versionPath(root, id + 1)
        // frozen commit = stored index rows + the batch delta (an
        // APPEND on a real table — the rewrite here is fixture-sized
        // test plumbing); retrain commit = the full re-encoded index
        val index =
          if (retrained) delta
          else priorIndex.withColumn("drift", lit(null).cast("double"))
            .unionByName(delta)
        index.coalesce(1).write.mode("overwrite").parquet(s"$out/index")
        sp.read.parquet(s"$prior/vectors").unionByName(batch)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/vectors")
        stateOut.cents.coalesce(1).write.mode("overwrite")
          .parquet(s"$out/quant_cents")
        stateOut.codebook.coalesce(1).write.mode("overwrite")
          .parquet(s"$out/quant_cb")
        Seq(Tuple1(retrained)).toDF("retrained")
          .coalesce(1).write.mode("overwrite").parquet(s"$out/flag")
      }.start()
    def flag(v: Long): Boolean =
      spark.read.parquet(s"$root/v=$v/flag").head().getBoolean(0)
    def rowsOf(path: String): Set[String] =
      spark.read.parquet(path).collect().map(_.toString).toSet
    val q1 = start()
    // batch 0: in-distribution -> frozen commit, state re-committed unchanged
    in.addData((10L, vec(10L, 1.0)), (11L, vec(11L, 1.0)))
    q1.processAllAvailable(); q1.stop()
    assert(!flag(1L), "in-distribution batch must commit the FROZEN index")
    val idx1 = spark.read.parquet(s"$root/v=1/index")
    assert(idx1.filter(col("drift").isNotNull)
        .select("vec_id").collect().map(_.getLong(0)).toSet == Set(10L, 11L),
      "frozen commit's DELTA must be the batch rows only")
    assert(idx1.select("vec_id").collect().map(_.getLong(0)).toSet
        == ((0L until 8L).toSet ++ Set(10L, 11L)),
      "frozen commit must carry stored + batch index rows")
    assert(rowsOf(s"$root/v=1/quant_cents") == rowsOf(s"$root/v=0/quant_cents")
        && rowsOf(s"$root/v=1/quant_cb") == rowsOf(s"$root/v=0/quant_cb"),
      "a frozen commit must re-commit the quantizer state UNCHANGED")
    // batch 1 (restart): x5 scale blows the 3.0 gate -> re-train commit
    val q2 = start()
    in.addData((20L, vec(20L, 5.0)), (21L, vec(21L, 5.0)))
    q2.processAllAvailable(); q2.stop()
    assert(flag(2L), "the drifted batch must trip the re-train gate")
    assert(spark.read.parquet(s"$root/v=2/index")
        .select("vec_id").collect().map(_.getLong(0)).toSet
        == ((0L until 8L).toSet ++ Set(10L, 11L, 20L, 21L)),
      "a re-train must re-encode EVERY vector")
    assert(rowsOf(s"$root/v=2/quant_cents") != rowsOf(s"$root/v=1/quant_cents"),
      "a re-train must commit NEW coarse centroids")
    // replay: batch 1 re-derived from the v=1 snapshot reproduces the
    // v=2 commit — decision, index rows, AND state members
    val batch1 = Seq((20L, vec(20L, 5.0)), (21L, vec(21L, 5.0)))
      .toDF("vec_id", "embedding")
    val (reIdx, reTrig, reState) =
      step(spark, graft.ops.TableOps.versionPath(root, 1L), batch1)
    assert(reTrig, "replayed batch must re-derive the SAME trigger decision")
    assert(reIdx.collect().map(_.toString).toSet == rowsOf(s"$root/v=2/index"),
      "replayed re-train index diverged from the committed one")
    assert(reState.cents.collect().map(_.toString).toSet
        == rowsOf(s"$root/v=2/quant_cents")
      && reState.codebook.collect().map(_.toString).toSet
        == rowsOf(s"$root/v=2/quant_cb"),
      "replayed re-train STATE diverged from the committed members")
  }

  // ---------------------------------------------------------------- T30
  test("T30: streamed appends maintain per-file BLOOM stats — point lookups prune with the latest version, stale versions only loosen") {
    // T27 with the round-17 bloom stats in the loop: the maintained
    // zone table carries bf_<col> sketches over a HASH-SCRAMBLED key
    // (every file's envelope spans ~the whole domain — envelopes
    // structurally cannot prune the point lookup), maintainFileZones
    // derives the stored bf_ set and builds each appended file's
    // sketch from the new-files-only scan, and the reader's pushed
    // equality probes the blooms at listing time. Gates: the
    // maintained table == the rebuild (incl. sketch bytes), a point
    // key living ONLY in batch 2's file scans ≤ 2 files under the
    // latest version, and the STALE prior version still returns the
    // row (an unknown file is kept — skipping loosens, rows survive).
    import org.apache.spark.sql.DataFrame
    val root = Files.createTempDirectory("bloomzones").toString
    val data = s"$root/data"
    val ck = Files.createTempDirectory("bloomzones-ck").toString
    def keyed(df: DataFrame): DataFrame =
      df.selectExpr("id", "(id * 2654435761) % 1000000007 as k")
    keyed(spark.range(0, 400).toDF("id"))
      .repartitionByRange(4, col("id")).sortWithinPartitions("id")
      .write.parquet(s"$data/b=base")
    locally {
      graft.ops.Layout.fileZones(spark, data, Seq("k"), bloomCols = Seq("k"))
        .coalesce(1).write.parquet(s"$root/z/v=0")
    }
    val in = MemoryStream[(Long, Long)](spark)
    def start() = in.toDF().toDF("lo", "hi")
      .writeStream.option("checkpointLocation", ck)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val sp = batch.sparkSession
        val prior = (id to 0L by -1L).map(v => s"$root/z/v=$v")
          .find(d => new java.io.File(d).exists()).getOrElse(s"$root/z/v=0")
        val bounds = batch.collect().map(r => (r.getLong(0), r.getLong(1)))
        val rows = bounds.map { case (lo, hi) => keyed(sp.range(lo, hi).toDF("id")) }
          .reduceOption(_ unionByName _)
          .getOrElse(keyed(sp.range(0, 0).toDF("id")))
        rows.coalesce(1).write.mode("overwrite").parquet(s"$data/b=$id")
        graft.ops.Layout.maintainFileZones(
            sp, data, sp.read.parquet(prior), Seq("k"))
          .coalesce(1).write.mode("overwrite").parquet(s"$root/z/v=${id + 1}")
      }.start()
    val q1 = start()
    in.addData((10000L, 10100L))
    q1.processAllAvailable(); q1.stop()
    val q2 = start() // checkpoint restart mid-stream
    in.addData((20000L, 20100L))
    q2.processAllAvailable(); q2.stop()
    def rows(df: DataFrame): Set[String] =
      df.collect().map(r => (r.getString(0),
        java.util.Arrays.toString(r.getAs[Array[Byte]]("bf_k"))) -> r.getLong(
          r.fieldIndex("rc_k"))).map(_.toString).toSet
    val v2 = spark.read.parquet(s"$root/z/v=2")
      .select(col("file").cast("string"), col("bf_k"), col("rc_k"))
    val rebuilt = graft.ops.Layout.fileZones(spark, data, Seq("k"), bloomCols = Seq("k"))
      .select(col("file").cast("string"), col("bf_k"), col("rc_k"))
    assert(rows(v2) == rows(rebuilt),
      "maintained bloom-zone version diverged from the rebuild (incl. sketch bytes)")
    // point lookup for a key living ONLY in batch 1's file (id 20001)
    val probe = (20001L * 2654435761L) % 1000000007L
    val zv2 = spark.read.parquet(s"$root/z/v=2")
    val r = graft.ops.Layout.zoneMapReadFiles(spark, data, zv2, "file", Seq("k"))
      .filter(col("k") === probe)
    assert(r.count() == 1, "the maintained bloom read lost the probed row")
    r.collect()
    val scanned = graft.TestPlans.fileScans(r.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    assert(scanned <= 2,
      s"maintained blooms kept $scanned of 6 files for a point key")
    // stale version: batch 1's file is unknown to v=1 — kept, row survives
    val zv1 = spark.read.parquet(s"$root/z/v=1")
    assert(graft.ops.Layout.zoneMapReadFiles(spark, data, zv1, "file", Seq("k"))
      .filter(col("k") === probe).count() == 1,
      "a stale bloom-zone version dropped a row from a file it does not know")
  }

  // ------------------------------------------- L-ops over the stream
  test("corpus ingest: quality gate + in-stream exact dedup over the message source") {
    // The L-battery's cleanup stages composed onto the streaming layer:
    // documents arrive as message payloads through the DSv2 source, get
    // the L4 stopword quality gate and L1 content-hash exact dedup IN
    // the stream, and only clean, first-seen docs reach the sink. Same
    // operators, same expressions — batch/streaming parity is the
    // point (a 100 TB backfill and its live tail share one pipeline).
    val logName = "t-ingest-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    try {
      val docs = Seq(
        "d0" -> "the a and of the table scan fast",  // clean
        "d1" -> "zz zz zz zz zz zz zz zz",           // no stopwords: gated out
        "d2" -> "the a and of the table scan fast",  // exact dup of d0: dropped
        "d3" -> "the of a value row merge and key")  // clean
      new Producer(log, seed = 1).publish(docs.map { case (id, text) =>
        Message.simple("pk", id, "text" -> text.getBytes("UTF-8")) }: _*)

      val cleaned = spark.readStream.format("graft-messages").option("log", logName).load()
        .select(col("externalId").as("doc_id"),
          decode(element_at(col("data"), "text"), "UTF-8").as("text"))
        .withColumn("ws", split(col("text"), " "))
        .filter(expr("size(filter(ws, x -> x in ('the','a','and','of')))") > 0)
        .withColumn("h", sha2(col("text"), 256))
        .dropDuplicates("h")
        .select("doc_id")
      val q = cleaned.writeStream.format("memory").queryName("ingest_out")
        .outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
      q.processAllAvailable()
      // late re-publish of a duplicate: dedup state persists across batches
      new Producer(log, seed = 2).publish(
        Message.simple("pk", "d4", "text" -> "the a and of the table scan fast".getBytes("UTF-8")))
      q.processAllAvailable()
      q.stop()
      assert(spark.table("ingest_out").select("doc_id").as[String].collect().sorted.toSeq
        == Seq("d0", "d3"))
    } finally ShardLog.remove(logName)
  }

  test("streaming near-dup: minhash-signature dedup holds state across batches") {
    // The L2 near-dup semantic in-stream: each arriving doc gets its
    // 64-perm minhash signature from the same native kernel batch
    // uses, and dropDuplicates on the signature suppresses near-
    // identical re-publications (identical shingle sets -> identical
    // signatures; J < 1 dups are a banding policy on top of the same
    // kernel). State is signature-keyed — bytes per doc, not the doc.
    import graft.functions.{MinHashExprs, ShingleExprs}
    val logName = "t-ndup-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    try {
      val doc = "alpha beta gamma delta epsilon zeta eta theta"
      new Producer(log, seed = 1).publish(
        Message.simple("pk", "d0", "text" -> doc.getBytes("UTF-8")),
        Message.simple("pk", "d1", "text" -> "totally different words here now".getBytes("UTF-8")))
      val uniq = spark.readStream.format("graft-messages").option("log", logName).load()
        .select(col("externalId").as("doc_id"),
          decode(element_at(col("data"), "text"), "UTF-8").as("text"))
        .withColumn("sig",
          MinHashExprs.minhash_sig(ShingleExprs.shingle_sha60(col("text"))))
        .dropDuplicates("sig")
        .select("doc_id")
      val q = uniq.writeStream.format("memory").queryName("ndup_out")
        .outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
      q.processAllAvailable()
      // a later batch republishes the same content under a new id: the
      // signature state suppresses it; fresh content passes
      new Producer(log, seed = 2).publish(
        Message.simple("pk", "d2", "text" -> doc.getBytes("UTF-8")),
        Message.simple("pk", "d3", "text" -> "yet more fresh content words".getBytes("UTF-8")))
      q.processAllAvailable()
      q.stop()
      assert(spark.table("ndup_out").select("doc_id").as[String].collect().sorted.toSeq
        == Seq("d0", "d1", "d3"))
    } finally ShardLog.remove(logName)
  }

  test("streaming decontamination: eval n-gram filter gates the live ingest") {
    // The L8 decontamination semantic on the stream: a FIXED eval suite
    // (benchmark-sized, so its distinct gram-hash set broadcasts — the
    // same posture as CorpusOps.decontaminate's aggregated eval side)
    // filters arriving docs that share any word 2-gram with it. The
    // gram hashing is the same native shingle_sha60 kernel batch uses;
    // arrays_overlap keeps the check per-row and stateless, so the
    // stream needs no shuffle, no watermark, and no state store.
    import graft.functions.ShingleExprs.shingle_sha60
    val logName = "t-decon-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    try {
      val evalGrams = Seq("alpha beta gamma delta").toDF("text")
        .select(explode(shingle_sha60(col("text"), 2)).as("h"))
        .distinct().as[Long].collect()
      val docs = Seq(
        "d0" -> "clean words only here",
        "d1" -> "stray beta gamma leak",   // shares eval 2-gram "beta gamma"
        "d2" -> "another clean doc")
      new Producer(log, seed = 1).publish(docs.map { case (id, text) =>
        Message.simple("pk", id, "text" -> text.getBytes("UTF-8")) }: _*)

      val clean = spark.readStream.format("graft-messages").option("log", logName).load()
        .select(col("externalId").as("doc_id"),
          decode(element_at(col("data"), "text"), "UTF-8").as("text"))
        .filter(!arrays_overlap(shingle_sha60(col("text"), 2), typedlit(evalGrams)))
        .select("doc_id")
      val q = clean.writeStream.format("memory").queryName("decon_out")
        .outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
      q.processAllAvailable()
      // a later batch is gated by the same eval set
      new Producer(log, seed = 2).publish(
        Message.simple("pk", "d3", "text" -> "gamma delta tail end".getBytes("UTF-8")),
        Message.simple("pk", "d4", "text" -> "fresh clean tail".getBytes("UTF-8")))
      q.processAllAvailable()
      q.stop()
      assert(spark.table("decon_out").select("doc_id").as[String].collect().sorted.toSeq
        == Seq("d0", "d2", "d4"))
    } finally ShardLog.remove(logName)
  }

  test("incremental ingest: stream-static anti join dedups against the historical corpus") {
    // The production shape of L1 at 100 TB: the corpus already exists
    // (static keeper-hash table from CorpusOps.exactDedupKeepers), and
    // the live tail ingests only content NOT already present — a
    // stream-static LEFT ANTI join on the content hash, composed with
    // the in-stream dropDuplicates so a batch that carries its own
    // dups also collapses. The static side re-evaluates per
    // micro-batch; at scale it is a parquet keeper table whose hash
    // column joins broadcast-or-shuffle by size, same as any
    // stream-static dim join (T7).
    val logName = "t-histdedup-" + System.nanoTime()
    val log = ShardLog.getOrCreate(logName)
    try {
      val historical = Seq(
        (10L, "seen before once"),
        (11L, "archived corpus doc")).toDF("doc_id", "text")
      val keeperHashes = graft.ops.CorpusOps.exactDedupKeepers(historical)
        .select(sha2(col("text"), 256).as("h"))

      new Producer(log, seed = 1).publish(
        Message.simple("pk", "d0", "text" -> "seen before once".getBytes("UTF-8")), // in corpus
        Message.simple("pk", "d1", "text" -> "genuinely new doc".getBytes("UTF-8")),
        Message.simple("pk", "d2", "text" -> "genuinely new doc".getBytes("UTF-8"))) // in-batch dup

      val fresh = spark.readStream.format("graft-messages").option("log", logName).load()
        .select(col("externalId").as("doc_id"),
          decode(element_at(col("data"), "text"), "UTF-8").as("text"))
        .withColumn("h", sha2(col("text"), 256))
        .join(keeperHashes, Seq("h"), "left_anti")
        .dropDuplicates("h")
        .select("doc_id")
      val q = fresh.writeStream.format("memory").queryName("hist_out")
        .outputMode("append")
        .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
      q.processAllAvailable()
      // a later batch replays both classes: historical and already-ingested
      new Producer(log, seed = 2).publish(
        Message.simple("pk", "d3", "text" -> "archived corpus doc".getBytes("UTF-8")),
        Message.simple("pk", "d4", "text" -> "genuinely new doc".getBytes("UTF-8")),
        Message.simple("pk", "d5", "text" -> "late but new".getBytes("UTF-8")))
      q.processAllAvailable()
      q.stop()
      assert(spark.table("hist_out").select("doc_id").as[String].collect().sorted.toSeq
        == Seq("d1", "d5"))
    } finally ShardLog.remove(logName)
  }

  test("T12: streaming rolling anomaly flags — q71's exact-decimal 2-sigma rule in-stream") {
    // The q71 semantic as its streaming twin: per (user, 10-minute
    // window) the SAME exact-decimal outlier rule — a window
    // flags when its farthest-from-mean value sits > 2σ out, and the
    // farthest value is always the max or the min, so the whole test
    // rides one windowed aggregate (n, Σv, Σv², max, min in decimals)
    // with NO per-event second pass. Watermark closes windows for
    // append mode; batch/streaming parity of the arithmetic is the
    // point.
    import org.apache.spark.sql.types.DecimalType
    val in = MemoryStream[(Timestamp, Long, Double)](spark)
    val vd = col("v").cast(DecimalType(12, 6))
    val agg = in.toDF().toDF("ts", "user", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("user"))
      .agg(count(lit(1)).as("n"),
        sum(vd).cast(DecimalType(15, 6)).as("sv"),
        sum(vd * vd).cast(DecimalType(20, 12)).as("sq"),
        max(vd).as("mx"), min(vd).as("mn"))
    val nd = col("n").cast(DecimalType(4, 0))
    def dev(c: org.apache.spark.sql.Column) = nd * c - col("sv")
    val varn4 = (nd * col("sq") - col("sv") * col("sv")) *
      lit(4).cast(DecimalType(2, 0))
    val flags = agg.select(col("window.start").as("ws"), col("user"),
      (col("n") >= 4 &&
        (dev(col("mx")) * dev(col("mx")) > varn4 ||
         dev(col("mn")) * dev(col("mn")) > varn4)).as("anomalous"))
    val q = flags.writeStream.format("memory").queryName("t12_out")
      .outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString).start()
    // user 1: five steady 10s + one 50 spike -> dev(50)=200, 200²=40000
    //         > 4·(6·3000−10000)=32000 -> flagged
    // user 2: six near-10 values -> dev(10.5)=3, 9 < 4·3.48 -> quiet
    in.addData(
      (ts(0), 1L, 10.0), (ts(1), 1L, 10.0), (ts(2), 1L, 10.0),
      (ts(3), 1L, 10.0), (ts(4), 1L, 10.0), (ts(5), 1L, 50.0),
      (ts(0), 2L, 10.0), (ts(1), 2L, 10.5), (ts(2), 2L, 9.5),
      (ts(3), 2L, 10.0), (ts(4), 2L, 10.2), (ts(5), 2L, 9.8))
    q.processAllAvailable()
    in.addData((ts(30), 9L, 0.0)) // watermark past the window: closes it
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t12_out")
      .select("user", "anomalous").collect()
      .map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(rows(1L) === true, s"the spike window must flag (got $rows)")
    assert(rows(2L) === false, s"the steady window must stay quiet (got $rows)")
  }

  test("T14: streaming salted hot-key aggregation — two chained stateful aggs, totals exact") {
    // q94/SkewTools' skew story in-stream: a windowed count/sum whose
    // key distribution is hot must not funnel one key's entire state
    // through one grouping — phase 1 aggregates on (window, key, SALT)
    // (deterministic salt off the event id), phase 2 collapses the
    // salted partials to (window, key). Spark's chained time-window
    // aggregation (multiple stateful operators, 3.4+) carries the
    // window column's event time into the second agg; DECIMAL partial
    // sums make the rollup exact under any salt split. The assertion
    // is two-sided: the totals equal the unsalted truth AND the hot
    // key genuinely spread over > 1 salt group.
    import org.apache.spark.sql.types.DecimalType
    val in = MemoryStream[(Timestamp, Long, Double)](spark)
    val vd = col("v").cast(DecimalType(12, 6))
    val p1 = in.toDF().toDF("ts", "k", "v")
      .withWatermark("ts", "10 minutes")
      .withColumn("salt", pmod(xxhash64(col("ts"), col("v")), lit(4)))
      .groupBy(window(col("ts"), "10 minutes"), col("k"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(vd).as("pv"))
    val p2 = p1
      .groupBy(col("window"), col("k"))
      .agg(sum(col("pn")).as("n"), sum(col("pv")).as("tv"),
        count(lit(1)).as("n_salts"))
    val q = p2.select(col("k"), col("n"), col("tv").cast("double").as("tv"),
        col("n_salts"))
      .writeStream.format("memory").queryName("t14_out").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("g").toString)
      .start()
    // hot key 7: 40 events; cold keys 1..5: one event each
    val hot = (0 until 40).map(i => (ts(i % 9), 7L, 1.5))
    val cold = (1 to 5).map(i => (ts(i), i.toLong, 2.0))
    in.addData(hot ++ cold: _*)
    q.processAllAvailable()
    in.addData((ts(30), 99L, 0.0)) // advance the watermark: closes the window
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t14_out").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(rows(7L)._1 == 40L && math.abs(rows(7L)._2 - 60.0) < 1e-9,
      s"hot-key totals must be exact after the salted rollup: $rows")
    assert(rows(7L)._3 > 1L,
      s"the hot key must spread over > 1 salt group (got ${rows(7L)._3})")
    (1 to 5).foreach { i =>
      assert(rows(i.toLong)._1 == 1L && rows(i.toLong)._2 == 2.0, s"cold key $i: $rows")
    }
  }
}

/** Static sinks so foreachBatch closures survive query restarts. */
object StreamingTckSpec {
  private val sinks = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentLinkedQueue[String]]()
  def sink(name: String): java.util.concurrent.ConcurrentLinkedQueue[String] =
    sinks.computeIfAbsent(name, _ => new java.util.concurrent.ConcurrentLinkedQueue[String]())
}

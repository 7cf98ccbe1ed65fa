package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.model.Message
import graft.streaming.{IngestDedup, Topics, TopicOffset}

/** stream_tail_dedup — open loop. One generator thread publishes seeded
  * documents through `TopicProducer.publish` in 100 ms ticks at a fixed
  * rate; a `ProcessingTime(0)` query reads the topic and runs
  * `IngestDedup.bandCollisions`. A document's latency is the time its
  * verdicts reach the sink minus the time it was due to be sent. */
object StreamTail {
  val Shards = 4
  val TickMs = 100
  val Bands = 16

  def ratePerS(smoke: Boolean): Int = if (smoke) 500 else 1000
  val WarmupS = 1.0 // generator time excluded from the latency sample

  /** Seeded document texts. doc_id = index, so ids rise with arrival.
    * 10 % are near-duplicates of an earlier document (one word
    * appended) and 5 % exact copies of one; the rest are fresh. */
  def texts(seed: Long, n: Int): IndexedSeq[String] = {
    val rng = new java.util.Random(seed ^ 0x5eedL)
    val out = new Array[String](n)
    for (i <- 0 until n) {
      val r = rng.nextDouble()
      out(i) =
        if (i > 0 && r < 0.10) out(rng.nextInt(i)) + " dup"
        else if (i > 0 && r < 0.15) out(rng.nextInt(i))
        else Vocab.sentence(rng, 10 + rng.nextInt(90))
    }
    out.toIndexedSeq
  }

  /** Verdicts as they land: one per (doc, band), with delivery times. */
  final class Sink(n: Int) {
    val verdict = Array.fill[Byte](n * Bands)(-1)
    val deliveredMs = Array.fill[Double](n)(Double.NaN)
    @volatile var delivered = 0
    var duplicates, unknown = 0L
    def accept(rows: Array[IngestDedup.BandHit], atMs: Double): Unit = synchronized {
      rows.foreach { h =>
        if (h.doc_id < 0 || h.doc_id >= n || h.band < 0 || h.band >= Bands) unknown += 1
        else {
          val k = h.doc_id.toInt * Bands + h.band
          if (verdict(k) >= 0) duplicates += 1
          else verdict(k) = if (h.dup) 1 else 0
          val d = h.doc_id.toInt
          if (deliveredMs(d).isNaN) { deliveredMs(d) = atMs; delivered += 1 }
        }
      }
    }
  }

  /** The reference: min(doc_id) per (band, bucket) over the same
    * documents, recomputed in one batch job. Returns (doc, band) -> dup. */
  def reference(ctx: Ctx, docs: IndexedSeq[String]): Array[Byte] = {
    import ctx.spark.implicits._
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sig = df.select(col("doc_id"), graft.functions.MinHashExprs.minhash_sig(
      graft.functions.ShingleExprs.shingle_sha60(col("text"))).as("sig"))
    val bands = (0 until Bands).map(b => struct(lit(b).as("band"),
      concat_ws(",", (0 until 4).map(r => col("sig")(b * 4 + r)): _*).as("bsig")))
    val rows = sig.select(col("doc_id"), explode(array(bands: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bsig").as("bsig"))
      .withColumn("dup", col("doc_id") > min("doc_id").over(Window.partitionBy("band", "bsig")))
      .select("doc_id", "band", "dup").as[(Long, Int, Boolean)].collect()
    val out = Array.fill[Byte](docs.size * Bands)(-1)
    rows.foreach { case (d, b, dup) => out(d.toInt * Bands + b) = if (dup) 1 else 0 }
    out
  }

  private def awaitDelivered(sink: Sink, n: Int): Unit = {
    val deadline = System.nanoTime() + 60e9.toLong
    while (sink.delivered < n && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Progress of the tail query, with the shard log ends seen alongside. */
  final class Progress(topic: graft.streaming.Topic) extends StreamingQueryListener {
    @volatile var queryId: java.util.UUID = _
    val events = new ConcurrentLinkedQueue[(StreamingQueryProgress, Long)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.id == queryId) {
        // records behind latest: log end minus the batch's end offset, per shard
        val ends = scala.util.Try(TopicOffset.fromJson(e.progress.sources.head.endOffset).offsets
          .map(o => o.shardId -> o.nextIndex).toMap).getOrElse(Map.empty[String, Long])
        val behind = topic.shards.map(s => s.size - ends.getOrElse(s.shardId, 0L)).max
        events.add((e.progress, behind))
      }
  }

  def run(ctx: Ctx): Section = {
    val sec = new Section("stream_tail_dedup")
    val spark = ctx.spark
    val tr = ctx.tracer
    val rate = ratePerS(ctx.opts.smoke)
    val perTick = rate * TickMs / 1000
    val nTicks = math.ceil((WarmupS + ctx.seconds) * 1000 / TickMs).toInt
    val first = rate // one second's documents, published during set-up
    val n = first + perTick * nTicks

    // Set-up: documents generated three times (median counted), topic
    // created, query started and its first micro-batch delivered.
    var docs: IndexedSeq[String] = null
    val gens = (0 until 3).map { _ =>
      val t = System.nanoTime()
      docs = texts(ctx.opts.seed, n)
      (System.nanoTime() - t) / 1e9
    }
    val tq = System.nanoTime()
    val name = s"tail-${ctx.opts.seed}-${System.nanoTime()}"
    val topic = Topics.create(name, Shards)
    def message(i: Int) =
      Message.simple(s"doc-${i % 1000}", i.toString, "text" -> docs(i).getBytes("UTF-8"))
    val ticks = (0 until nTicks).map { k =>
      (first + k * perTick until first + (k + 1) * perTick).map(message)
    }
    val sink = new Sink(n)
    val listener = new Progress(topic)
    spark.streams.addListener(listener)
    val stream = ctx.ledger.scoped("tail.stream") {
      val src = spark.readStream.format("graft-messages")
        .option("topic", name).option("startingPosition", "earliest").load()
        .select(col("externalId").cast("long").as("doc_id"),
          col("data").getItem("text").cast("string").as("text"))
      IngestDedup.bandCollisions(src).writeStream
        .foreachBatch { (ds: Dataset[IngestDedup.BandHit], _: Long) =>
          sink.accept(ds.collect(), Clock.nowMs); ()
        }
        .trigger(Trigger.ProcessingTime(0))
        .option("checkpointLocation", ctx.workDir(s"ckpt/$name"))
        .start()
    }
    listener.queryId = stream.id
    val producer = topic.producer(ctx.opts.seed)
    producer.publish((0 until first).map(message): _*)
    awaitDelivered(sink, first)
    sec.setupS = Stats.median(gens) + (System.nanoTime() - tq) / 1e9

    // Open-loop generator: tick k is due at start + k * 100 ms whatever
    // the query is doing; lateness is recorded as a validity check.
    val due = new Array[Double](nTicks)
    val late = new Array[Double](nTicks)
    val publishMs = new Array[Double](nTicks)
    val cpuMarks = new Array[Long](2)
    val root = new java.util.concurrent.atomic.AtomicInteger(0)
    val startMs = Clock.nowMs + 200
    val warmTicks = math.round(WarmupS * 1000 / TickMs).toInt
    val gen = new Thread(() => {
      for (k <- 0 until nTicks) {
        due(k) = startMs + k * TickMs
        val wait = due(k) - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        if (k == warmTicks) cpuMarks(0) = Clock.cpuNs
        val t = Clock.nowMs
        late(k) = t - due(k)
        tr.span("gen.publish", root.get, k, traced = k % 2 == 0) { _ => producer.publish(ticks(k): _*) }
        publishMs(k) = Clock.nowMs - t
      }
      cpuMarks(1) = Clock.cpuNs
    }, "perfbench-generator")
    tr.span("tail", 0, 0) { r =>
      root.set(r)
      gen.start()
      gen.join()
      awaitDelivered(sink, n) // catch up: every document must get its verdicts
    }
    stream.stop()
    ctx.ledger.settle()
    spark.streams.removeListener(listener)
    val progress = listener.events.asScala.toSeq.sortBy(_._1.batchId)
    if (tr.on) progress.filter(_._1.numInputRows > 0).foreach { case (p, _) =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      tr.add("tail.trigger", root.get, p.batchId, s,
        s + Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
    }

    // Correctness: every document's 16 verdicts equal the batch reference.
    val ref = reference(ctx, docs)
    val bad = (0 until n).filter { d =>
      (0 until Bands).exists(b => sink.verdict(d * Bands + b) != ref(d * Bands + b))
    }
    val badDocs = bad.size
    sec.notes("missing_verdicts") = sink.verdict.count(_ < 0)
    sec.notes("bad_examples") = bad.take(5).map { d =>
      s"doc $d: got ${(0 until Bands).map(b => sink.verdict(d * Bands + b)).mkString(",")} " +
        s"want ${(0 until Bands).map(b => ref(d * Bands + b)).mkString(",")}"
    }
    sec.attempted = n
    sec.failed = badDocs + sink.duplicates + sink.unknown
    sec.notes("documents") = n
    sec.notes("rate_per_s") = rate
    sec.notes("duplicate_verdicts") = sink.duplicates
    sec.notes("wrong_or_missing_docs") = badDocs
    sec.notes("reference_dup_docs") = (0 until n).count(d => (0 until Bands).exists(b => ref(d * Bands + b) == 1))

    // Latency from the due time, warm-up ticks excluded.
    def tickOf(d: Int): Int = (d - first) / perTick
    val measured = (first + warmTicks * perTick until n).filter(d => !sink.deliveredMs(d).isNaN)
    def lat(d: Int): Double = sink.deliveredMs(d) - due(tickOf(d))
    val lats = measured.map(lat)
    val firstDue = due(warmTicks)
    val lastDelivery = measured.map(sink.deliveredMs(_)).max
    sec.raw("setup_s") = sec.setupS
    sec.raw("ops_per_s") = measured.size / ((lastDelivery - firstDue) / 1000)
    sec.raw("op_p50_ms") = Stats.quantile(lats, 0.50)
    sec.raw("op_p99_ms") = Stats.quantile(lats, 0.99)

    val L = sec.layers
    L("tail.deliver_p50_ms") = sec.raw("op_p50_ms")
    L("tail.deliver_p99_ms") = sec.raw("op_p99_ms")
    L("tail.cpu_ms_per_doc") = (cpuMarks(1) - cpuMarks(0)) / 1e6 / ((nTicks - warmTicks) * perTick)
    // micro-batches that started after the warm-up (all of them if none did)
    val withData = progress.filter(_._1.numInputRows > 0)
    val afterWarmup = withData.filter { case (p, _) =>
      java.time.Instant.parse(p.timestamp).toEpochMilli >= firstDue
    }
    val data = if (afterWarmup.nonEmpty) afterWarmup else withData
    val batches = withData.size.max(1)
    sec.notes("triggers") = withData.map { case (p, behind) =>
      s"${p.numInputRows} rows ${p.durationMs.get("triggerExecution")} ms behind $behind"
    }
    val ex = ctx.ledger.exec.sum(_ == "tail.stream")
    L("trigger.ms_p50") = Stats.median(data.map(_._1.durationMs.get("triggerExecution").doubleValue))
    L("trigger.batches") = batches
    L("trigger.jobs") = ex.jobs.toDouble / batches
    L("trigger.stages") = ex.stages.toDouble / batches
    L("trigger.tasks") = ex.tasks.toDouble / batches
    L("source.records_behind_latest_max") = data.map(_._2.toDouble).maxOption.getOrElse(0.0)
    val states = progress.flatMap(_._1.stateOperators.headOption)
    L("state.rows_total") = states.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    L("state.memory_bytes") = states.map(_.memoryUsedBytes.toDouble).maxOption.getOrElse(0.0)
    L("state.commit_ms") = Stats.median(data.flatMap(_._1.stateOperators.headOption).map(_.commitTimeMs.toDouble))
    L("state.rows_updated") = states.map(_.numRowsUpdated.toDouble).sum
    L("gen.late_ms_max") = late.max
    L("sink.producer_publish_ms_p50") = Stats.median(publishMs.toSeq)
    if (tr.on) {
      // tracing overhead: documents of traced ticks against untraced ones
      val (on, off) = measured.partition(d => tickOf(d) % 2 == 0)
      L("trace.tail_overhead_frac") = Stats.median(on.map(lat)) / Stats.median(off.map(lat)) - 1
    }
    sec
  }
}

/** The fixtures' 30-word vocabulary, shared by the generated corpora. */
object Vocab {
  val words: IndexedSeq[String] = IndexedSeq("the", "a", "join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order", "vector", "line", "table",
    "data", "agg", "value", "key", "stream", "window", "spark", "part", "group", "big", "sort",
    "query", "fast")

  def sentence(rng: java.util.Random, n: Int): String =
    (0 until n).map(_ => words(rng.nextInt(words.size))).mkString(" ")
}

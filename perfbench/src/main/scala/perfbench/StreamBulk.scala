package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.model.Message
import graft.streaming.Topics

/** stream_bulk — closed loop, one client. Each cycle creates a fresh
  * 4-shard topic, publishes the seeded messages with one
  * `df.write.format("graft-messages")` call, then drains them from
  * `earliest` with one `Trigger.AvailableNow` query into a checking sink.
  */
object StreamBulk {
  val Shards = 4
  val Keys = 1000
  val PayloadBytes = 256

  val WarmupCycles = 6

  def messagesPerCycle(smoke: Boolean): Int = if (smoke) 2000 else 10000

  /** Seeded input: 256-B payloads, `externalId` = the message's index
    * (the checker's identity), and 1,000 partition keys each used equally
    * often in a seeded order. Equal use fixes each shard's share, and with
    * it the micro-batches per drain; random keys made that vary by seed. */
  def input(ctx: Ctx, n: Int, seed: Long): Dataset[Message] = {
    val rng = new java.util.Random(seed)
    val keys = new scala.util.Random(seed).shuffle((0 until n).map(_ % Keys))
    val msgs = (0 until n).map { i =>
      val payload = new Array[Byte](PayloadBytes)
      rng.nextBytes(payload)
      Message.simple(s"pk-${keys(i)}", i.toString, "payload" -> payload)
    }
    val ds = ctx.spark.createDataset(msgs)(Message.encoder).cache()
    ds.count()
    ds
  }

  /** Exactly-once and per-shard sequence order, checked as batches land. */
  final class DrainCheck(n: Int) {
    private val seen = new java.util.BitSet(n)
    private val nextSeq = scala.collection.mutable.Map.empty[String, Long]
    var duplicates, outOfOrder, unknown = 0L
    val deliveries = ArrayBuffer.empty[(Double, Long)] // (time ms, rows)

    def accept(rows: Array[org.apache.spark.sql.Row], atMs: Double): Unit = synchronized {
      rows.foreach { r =>
        val shard = r.getString(0)
        val seq = r.getString(1).toLong
        val id = scala.util.Try(r.getString(2).toInt).getOrElse(-1)
        if (id < 0 || id >= n) unknown += 1
        else if (seen.get(id)) duplicates += 1
        else seen.set(id)
        if (seq != nextSeq.getOrElse(shard, 0L)) outOfOrder += 1
        nextSeq(shard) = seq + 1
      }
      deliveries += ((atMs, rows.length.toLong))
    }
    def lost: Long = n - seen.cardinality()
    def failed: Long = lost + duplicates + outOfOrder + unknown
  }

  final case class Cycle(publishS: Double, drainS: Double, startMs: Double,
                         progress: Seq[StreamingQueryProgress], check: DrainCheck,
                         readCalls: Long, recordsRead: Long, sinkScope: String,
                         drainScope: String)

  private def duration(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)

  private def epochMs(iso: String): Double = java.time.Instant.parse(iso).toEpochMilli.toDouble

  /** One publish + drain cycle on a fresh topic. */
  def cycle(ctx: Ctx, in: Dataset[Message], n: Int, label: String, iter: Long,
            parent: Int, traced: Boolean): Cycle = {
    val name = s"bulk-${ctx.opts.seed}-$label"
    val topic = Topics.create(name, Shards)
    val sinkScope = s"$label.sink"
    val drainScope = s"$label.drain"
    val tr = ctx.tracer
    val start = Clock.nowMs
    tr.span("sink.write", parent, iter, traced) { _ =>
      ctx.ledger.scoped(sinkScope) {
        in.write.format("graft-messages").option("topic", name).mode("append").save()
      }
    }
    val published = Clock.nowMs
    val check = new DrainCheck(n)
    val ckpt = ctx.workDir(s"ckpt/$name")
    val progress = tr.span("source.drain", parent, iter, traced) { drainSpan =>
      val q = ctx.ledger.scoped(drainScope) {
        ctx.spark.readStream.format("graft-messages")
          .option("topic", name).option("startingPosition", "earliest").load()
          .select(col("provider.shardId"), col("provider.sequenceNumber"), col("externalId"))
          .writeStream
          .foreachBatch { (df: DataFrame, _: Long) => check.accept(df.collect(), Clock.nowMs); () }
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation", ckpt)
          .start()
      }
      q.awaitTermination()
      val ps = q.recentProgress.toSeq
      if (traced) ps.filter(_.numInputRows > 0).foreach { p =>
        val s = epochMs(p.timestamp)
        tr.add("source.trigger", drainSpan, p.batchId, s, s + duration(p, "triggerExecution"))
      }
      ps
    }
    val drained = Clock.nowMs
    Cycle((published - start) / 1000, (drained - published) / 1000, start, progress, check,
      topic.shards.map(_.readCalls.get).sum, topic.shards.map(_.recordsRead.get).sum,
      sinkScope, drainScope)
  }

  private def usedHeapAfterGc(): Long = {
    System.gc(); System.gc()
    val rt = Runtime.getRuntime
    rt.totalMemory - rt.freeMemory
  }

  def run(ctx: Ctx): Section = {
    val sec = new Section("stream_bulk")
    val n = messagesPerCycle(ctx.opts.smoke)
    val tr = ctx.tracer

    // Set-up: seeded input built three times (median counted), then
    // warm-up cycles, whose messages are checked like the others. Cycle
    // times kept falling through the first few cycles of a run.
    var in: Dataset[Message] = null
    val builds = (0 until 3).map { _ =>
      val t = System.nanoTime()
      if (in != null) in.unpersist(true)
      in = input(ctx, n, ctx.opts.seed)
      (System.nanoTime() - t) / 1e9
    }
    val warm = (0 until WarmupCycles).map { i =>
      ctx.host.probe()
      val t = System.nanoTime()
      val c = cycle(ctx, in, n, s"bulk-warmup$i", -1, 0, traced = false)
      (c, (System.nanoTime() - t) / 1e9)
    }
    sec.setupS = Stats.median(builds) + warm.map(_._2).sum

    // retained heap is a per-layer metric; the full GCs it takes cost an
    // untraced run time for nothing
    val heap0 = if (tr.on) usedHeapAfterGc() else 0L
    val cpu0 = Clock.cpuNs
    val cycles = ArrayBuffer.empty[Cycle]
    val tracedCycle = ArrayBuffer.empty[Boolean]
    var cycleS = 0.0 // the run length counts cycles, not probes
    tr.span("bulk", 0, 0) { root =>
      // in a traced run every other cycle is untraced, to measure overhead
      while (cycles.size < 2 || cycleS < ctx.seconds) {
        val i = cycles.size
        val traced = i % 2 == 0
        ctx.host.probe()
        val tc = System.nanoTime()
        cycles += tr.span("bulk.cycle", root, i, traced) { span =>
          cycle(ctx, in, n, s"bulk-c$i", i, span, traced)
        }
        cycleS += (System.nanoTime() - tc) / 1e9
        tracedCycle += traced
      }
    }
    val cpuS = (Clock.cpuNs - cpu0) / 1e9
    val heap1 = if (tr.on) usedHeapAfterGc() else 0L
    in.unpersist(true)
    ctx.ledger.settle()

    val total = n.toLong * cycles.size
    sec.attempted = total + n.toLong * warm.size
    sec.failed = cycles.map(_.check.failed).sum + warm.map(_._1.check.failed).sum
    sec.notes("cycles") = cycles.size
    sec.notes("cycle_s") = cycles.map(c => c.publishS + c.drainS).toSeq
    sec.notes("messages_per_cycle") = n
    sec.notes("lost") = cycles.map(_.check.lost).sum
    sec.notes("duplicates") = cycles.map(_.check.duplicates).sum
    sec.notes("out_of_order") = cycles.map(_.check.outOfOrder).sum

    // a message's delivery latency counts from its cycle's start; each
    // percentile is taken within a cycle, then the median over cycles
    def cycleQuantile(q: Double): Double = Stats.median(cycles.map { c =>
      Stats.weightedQuantile(c.check.deliveries.map { case (t, k) => (t - c.startMs, k) }.toSeq, q)
    }.toSeq)
    // throughput to the last delivery; the drain query's shutdown after it
    // is not something a consumer waits for
    val cycleRates = cycles.map(c => n / ((c.check.deliveries.map(_._1).max - c.startMs) / 1000))
    sec.notes("cycle_ops_per_s") = cycleRates.toSeq
    sec.raw("setup_s") = sec.setupS
    sec.raw("ops_per_s") = Stats.median(cycleRates.toSeq)
    sec.raw("op_latency_ms") = cycleQuantile(0.50)

    val L = sec.layers
    L("bulk.host_probe_ms") = ctx.host.medianMs
    L("bulk.op_p99_ms") = cycleQuantile(0.99)
    L("bulk.cpu_ms_per_msg") = cpuS * 1000 / total
    L("bulk.publish_msgs_per_s") = Stats.median(cycles.map(n / _.publishS).toSeq)
    L("bulk.drain_msgs_per_s") = Stats.median(cycles.map(n / _.drainS).toSeq)
    L("sink.publish_s") = Stats.median(cycles.map(_.publishS).toSeq)
    val sinkExec = cycles.map(c => ctx.ledger.exec.sum(_ == c.sinkScope))
    L("sink.tasks") = Stats.median(sinkExec.map(_.tasks.toDouble).toSeq)
    L("sink.task_s") = Stats.median(sinkExec.map(_.taskMs / 1000.0).toSeq)
    L("sink.heap_bytes_per_msg") = (heap1 - heap0).toDouble / total
    def perDrain(f: Cycle => Double): Double = Stats.median(cycles.map(f).toSeq)
    def durSum(c: Cycle, k: String): Double = c.progress.map(duration(_, k)).sum.toDouble
    L("source.batches") = perDrain(_.progress.count(_.numInputRows > 0).toDouble)
    L("source.latest_offset_ms") = perDrain(durSum(_, "latestOffset"))
    L("source.get_batch_ms") = perDrain(durSum(_, "getBatch"))
    L("source.query_planning_ms") = perDrain(durSum(_, "queryPlanning"))
    L("source.add_batch_ms") = perDrain(durSum(_, "addBatch"))
    L("source.wal_commit_ms") = perDrain(durSum(_, "walCommit"))
    L("source.read_calls") = perDrain(_.readCalls.toDouble)
    L("source.records_read_per_delivered") = perDrain(c => c.recordsRead.toDouble / n)
    L("source.busy_frac") = perDrain { c =>
      ctx.ledger.exec.sum(_ == c.drainScope).taskMs / 1000.0 / (c.drainS * ctx.ledger.cores)
    }
    if (tr.on) {
      // tracing overhead: traced cycles against untraced ones
      val (on, off) = cycles.zip(tracedCycle).partition(_._2)
      def med(cs: Seq[(Cycle, Boolean)]) = Stats.median(cs.map(c => c._1.publishS + c._1.drainS))
      L("trace.bulk_overhead_frac") =
        if (off.isEmpty) Double.NaN else med(on.toSeq) / med(off.toSeq) - 1
    }
    sec
  }

  /** The single-threaded baseline: the same cycles on a local[1] session. */
  def runSingleThreaded(ctx: Ctx): Section = {
    val sec = new Section("stream_bulk_local1")
    val n = messagesPerCycle(ctx.opts.smoke)
    val in = input(ctx, n, ctx.opts.seed)
    cycle(ctx, in, n, "bulk1-warmup", -1, 0, traced = false)
    val cycles = (0 until 3).map(i => cycle(ctx, in, n, s"bulk1-c$i", i, 0, traced = false))
    in.unpersist(true)
    sec.attempted = n.toLong * cycles.size
    sec.failed = cycles.map(_.check.failed).sum
    sec.layers("bulk.local1_publish_msgs_per_s") = Stats.median(cycles.map(n / _.publishS))
    sec.layers("bulk.local1_drain_msgs_per_s") = Stats.median(cycles.map(n / _.drainS))
    sec
  }
}

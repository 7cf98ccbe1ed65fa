package graft.streaming

import scala.concurrent.{ExecutionContext, Future}

import graft.model.{Message, UlidGenerator}

/** The one publish routine — the reference's producer semantics
  * (`KinesisMessiProducer.java:47-173`) over a route from message to
  * shard. A bare log is a constant route; a topic routes by partition
  * key ([[Topic.shardFor]]). [[Topic.producer]] and the DSv2 sink's
  * per-partition writer both publish through it.
  *  - `partitionKey` REQUIRED on every message (`:64-66`);
  *  - messages without a ULID get a per-producer strictly-monotonic one
  *    (`:68-80`);
  *  - messages are grouped by shard (order kept within a shard) and
  *    each shard batch goes out as one put; a throttled put backs off
  *    3 x `pollIntervalMs` (`KinesisStreamingBuffer.java:128-135`) and
  *    re-sends ONLY that shard's batch (`:103-160`), so a retry never
  *    duplicates a shard batch that already landed.
  */
final class Producer(route: Message => ShardLog, pollIntervalMs: Long, seed: Long) {

  def this(log: ShardLog, pollIntervalMs: Long = 10, seed: Long = System.nanoTime()) =
    this((_: Message) => log, pollIntervalMs, seed)

  private val ulids = new UlidGenerator(seed)
  @volatile private var closed = false

  def isClosed: Boolean = closed
  def close(): Unit = closed = true

  def publish(msgs: Message*): Unit = {
    if (closed) throw new IllegalStateException("producer is closed")
    msgs.foreach { m =>
      require(m.partitionKey != null && m.partitionKey.nonEmpty,
        "partitionKey is required to publish")
    }
    val withUlids = msgs.map(m => if (m.ulid.isDefined) m else m.copy(ulid = Some(ulids.next())))
    withUlids.groupBy(route).foreach { case (shard, batch) =>
      var sent = false
      while (!sent) {
        try { shard.putRecords(batch); sent = true }
        catch { case _: ThrottledException => Thread.sleep(3 * pollIntervalMs) }
      }
    }
  }

  def publishAsync(msgs: Message*)(implicit ec: ExecutionContext): Future[Unit] =
    Future(publish(msgs: _*))
}

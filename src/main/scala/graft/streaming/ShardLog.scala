package graft.streaming

import scala.collection.mutable.ArrayBuffer

import graft.model.{Message, Provider}

/** One durable, totally-ordered, append-only shard — the engine's
  * in-memory equivalent of a Kinesis shard, with simulator parity:
  * records are addressed by their `Long` index, exposed on the wire as
  * zero-padded 12-digit decimal sequence numbers starting at
  * "000000000000" (`simulator/KinesisShardStream.java:30-50`), arrival
  * timestamps, timestamp→index linear scan (`:76-86`), and injectable
  * throttling for retry tests
  * (`simulator/KinesisAsyncClientSimulator.java:39-254`).
  *
  * Read-side enrichment happens here, exactly like
  * `KinesisStreamingBuffer.java:178-207`: `firstProvider` is set iff
  * absent; `provider` is ALWAYS overwritten with this read's stamp.
  */
final class ShardLog(val shardId: String = "shardId-000000000000") {

  /** (arrivalMillis, message) per index. */
  private val records = ArrayBuffer.empty[(Long, Message)]
  @volatile private var failPutsRemaining: Int = 0

  def size: Int = synchronized(records.size)

  /** Index the next appended record WILL get (exclusive end offset). */
  def end: Long = synchronized(records.size.toLong)

  /** Simulate N throttled put batches (rate-limit recovery tests). */
  def injectPutFailures(n: Int): Unit = synchronized { failPutsRemaining = n }

  @volatile private var failReadsRemaining: Int = 0
  @volatile private var failReadsGeneric: Boolean = false

  /** Simulate N failed reads: throttles (ProvisionedThroughputExceeded
    * analogue) or generic errors — the reader's backoff-retry loop
    * (reference rows §2A-15/16) must absorb them.
    */
  def injectReadFailures(n: Int, generic: Boolean = false): Unit = synchronized {
    failReadsRemaining = n
    failReadsGeneric = generic
  }

  @volatile private var expireItersRemaining: Int = 0

  /** Simulate N expired-iterator reads (ExpiredIteratorException
    * analogue, `KinesisStreamingBuffer.java:121-127`): the reader must
    * re-acquire its iterator from the original cursor and continue —
    * distinct from throttle/generic retry, no failure budget consumed.
    */
  def injectIteratorExpiry(n: Int): Unit = synchronized { expireItersRemaining = n }

  /** GetShardIterator calls observed (re-acquisitions after expiry) —
    * the in-memory log is positional, so re-acquisition is only
    * bookkeeping here; a real-Kinesis adapter supplies a live
    * nextShardIteratorSupplier through the same seam. */
  val iteratorReacquisitions = new java.util.concurrent.atomic.AtomicLong()

  /** The re-acquisition seam [[ReadRetry.readWithRetry]] calls on
    * expiry: reconstruct the read position from the cursor. */
  def reacquireIterator(): Unit = iteratorReacquisitions.incrementAndGet()

  /** Append a batch atomically. Throws [[ThrottledException]] while
    * injected failures remain — the producer's retry loop must re-send
    * (only) the failed batch.
    */
  def putRecords(msgs: Seq[Message],
                 arrivalMillis: Long = System.currentTimeMillis()): Unit = synchronized {
    if (failPutsRemaining > 0) {
      failPutsRemaining -= 1
      throw new ThrottledException(s"injected throttle, ${failPutsRemaining} remaining")
    }
    msgs.foreach(m => records += (arrivalMillis -> m))
  }

  /** Records served since creation — lets tests observe scan pruning. */
  val recordsRead = new java.util.concurrent.atomic.AtomicLong()

  /** read() invocations since creation — each one models one GetRecords
    * RPC against a real provider; tests assert readers batch them. */
  val readCalls = new java.util.concurrent.atomic.AtomicLong()

  /** Up to `limit` provider-enriched records in order, starting at
    * index `from` (0 = TRIM_HORIZON). */
  def read(from: Long, limit: Int): Seq[Message] = synchronized {
    readCalls.incrementAndGet()
    if (expireItersRemaining > 0) {
      expireItersRemaining -= 1
      throw new IteratorExpiredException(s"injected iterator expiry, $expireItersRemaining remaining")
    }
    if (failReadsRemaining > 0) {
      failReadsRemaining -= 1
      if (failReadsGeneric) throw new RuntimeException(s"injected read error, $failReadsRemaining remaining")
      else throw new ThrottledException(s"injected read throttle, $failReadsRemaining remaining")
    }
    val start = math.min(from, records.size.toLong).toInt
    val stop = math.min(records.size.toLong, start + math.max(limit, 0).toLong).toInt
    val out = (start until stop).map(i => enrich(i, records(i)))
    recordsRead.addAndGet(out.size)
    out
  }

  /** First index with arrival timestamp >= ts (AT_TIMESTAMP semantics,
    * linear scan like the simulator); `end` when none has arrived yet. */
  def indexAtTimestamp(epochMillis: Long): Long = synchronized {
    val i = records.indexWhere(_._1 >= epochMillis)
    if (i < 0) records.size.toLong else i.toLong
  }

  private def enrich(index: Int, record: (Long, Message)): Message = {
    val (arrivalMillis, m) = record
    val stamp = Provider("graft", arrivalMillis, shardId, ShardLog.formatSeq(index))
    m.copy(firstProvider = m.firstProvider.orElse(Some(stamp)), provider = Some(stamp))
  }
}

final class ThrottledException(msg: String) extends RuntimeException(msg)

/** The ExpiredIteratorException analogue: the read position handle went
  * stale; recover by re-acquiring from the original cursor, not by
  * generic retry (`KinesisStreamingBuffer.java:121-127`). */
final class IteratorExpiredException(msg: String) extends RuntimeException(msg)

object ShardLog {
  /** The wire form of an index: the provider stamp at read and
    * [[ShardOffset]]'s JSON are its only users. */
  private[streaming] def formatSeq(n: Long): String = f"$n%012d"
  private[streaming] def parseSeq(s: String): Long = s.toLong

  /** Global registry so DataSource V2 instances (created reflectively
    * by Spark from options) can resolve a log by name within the JVM —
    * the test-double wiring, like the reference's simulator SPI alias.
    */
  private val registry = new java.util.concurrent.ConcurrentHashMap[String, ShardLog]()
  def getOrCreate(name: String): ShardLog =
    registry.computeIfAbsent(name, _ => new ShardLog())
  def getOrCreate(name: String, shardId: String): ShardLog =
    registry.computeIfAbsent(name, _ => new ShardLog(shardId))
  def remove(name: String): Unit = registry.remove(name)
}
